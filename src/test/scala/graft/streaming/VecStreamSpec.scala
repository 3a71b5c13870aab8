package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Pq, Similarity}

/** Live-query row for the streamed-probe tests. */
case class QVec(q_id: Long, q_emb: Array[Float])

/** New-vector row for the streamed-append tests. */
case class NVec(vec_id: Long, embedding: Array[Float])

/** The streamed halves of the stored-index lifecycle, each
  * [[MicroBatch.start]] over its batch kernel: micro-batched probes
  * union to the declared stored-probe answer, and appended vectors
  * become visible to subsequent probes.
  */
class VecStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixture = "/root/testdata/sf0.001"

  /** The declared query-set convention (vec_id stride 100) with norms
    * computed by the same kernel the stream side uses.
    */
  private def fixtureQueries: Array[QVec] = {
    import spark.implicits._
    graft.Tables.embeddings(spark, fixture)
      .filter($"vec_id" % 100 === 0)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, e) => QVec(id, e) }
  }

  private def withNorm(qs: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    qs.select($"q_id", $"q_emb",
      graft.functions.VectorFunctions.norm($"q_emb").as("q_nrm"))
  }

  test("streamed probe micro-batches union to the declared stored probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vecstream")
      .toString + "/lsh"
    Similarity.writeLshIndex(spark, fixture, dir)
    val expected = Similarity.topkLshStored(spark, fixture, dir)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(expected.nonEmpty)

    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double, Int)]
    val mem = MemoryStream[QVec]
    val q = MicroBatch.start(withNorm(mem.toDF()).writeStream) { b =>
      Similarity.topkLshStoredFor(b.sparkSession, b, dir)
        .as[(Long, Long, Double, Int)].collect().foreach(results.add)
    }
    try {
      val qs = fixtureQueries
      val (a, b) = qs.splitAt(qs.length / 2)
      mem.addData(a.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b.toSeq: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(results.asScala.toSet == expected,
        s"stream ${results.size} rows != batch ${expected.size}")
    } finally q.stop()
  }

  test("IVF: streamed probe micro-batches union to the declared stored probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vecstream")
      .toString + "/ivf"
    Similarity.writeIvfIndex(spark, fixture, dir)
    val expected = Similarity.topkIvfStored(spark, fixture, dir)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(expected.nonEmpty)

    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double, Int)]
    val mem = MemoryStream[QVec]
    val q = MicroBatch.start(withNorm(mem.toDF()).writeStream) { b =>
      Similarity.topkIvfStoredFor(b.sparkSession, b, dir)
        .as[(Long, Long, Double, Int)].collect().foreach(results.add)
    }
    try {
      val qs = fixtureQueries
      val (a, b) = qs.splitAt(qs.length / 2)
      mem.addData(a.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b.toSeq: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(results.asScala.toSet == expected,
        s"stream ${results.size} rows != batch ${expected.size}")
    } finally q.stop()
  }

  test("IVF: append stream maintains the index without retraining") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vecstream")
      .toString + "/ivf"
    Similarity.writeIvfIndex(spark, fixture, dir)

    val seed = fixtureQueries.head
    val probeQ = withNorm(Seq(QVec(999999L, seed.q_emb)).toDF(
      "q_id", "q_emb"))
    def hits(): Set[Long] =
      Similarity.topkIvfStoredFor(spark, probeQ, dir)
        .select($"n_id").as[Long].collect().toSet
    assert(!hits().contains(1000000L))

    val mem = MemoryStream[NVec]
    val q = MicroBatch.start(mem.toDF().writeStream)(b =>
      Similarity.appendToIvfIndex(b.sparkSession, dir, b))
    try {
      mem.addData(NVec(1000001L, seed.q_emb.map(v => -v)))
      q.processAllAvailable()
      mem.addData(NVec(1000000L, seed.q_emb))
      q.processAllAvailable()
    } finally q.stop()

    val after = Similarity.topkIvfStoredFor(spark, probeQ, dir)
      .as[(Long, Long, Double, Int)].collect()
    val clone = after.find(_._2 == 1000000L)
    assert(clone.isDefined, s"appended clone not found in ${after.toSeq}")
    assert(clone.get._3 == 1.0, s"clone cosine ${clone.get._3}")
  }

  test("append stream maintains the index: probes see appended vectors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vecstream")
      .toString + "/lsh"
    Similarity.writeLshIndex(spark, fixture, dir)

    val seed = fixtureQueries.head
    val probeQ = withNorm(Seq(QVec(999999L, seed.q_emb)).toDF(
      "q_id", "q_emb"))
    def hits(): Set[Long] =
      Similarity.topkLshStoredFor(spark, probeQ, dir)
        .select($"n_id").as[Long].collect().toSet
    assert(!hits().contains(1000000L))

    val mem = MemoryStream[NVec]
    val q = MicroBatch.start(mem.toDF().writeStream)(b =>
      Similarity.appendToLshIndex(b.sparkSession, dir, b))
    try {
      // batch 1: an unrelated new vector; batch 2: an exact clone of
      // the probe target — both must land in the stored index
      mem.addData(NVec(1000001L, seed.q_emb.map(v => -v)))
      q.processAllAvailable()
      mem.addData(NVec(1000000L, seed.q_emb))
      q.processAllAvailable()
    } finally q.stop()

    val after = Similarity.topkLshStoredFor(spark, probeQ, dir)
      .as[(Long, Long, Double, Int)].collect()
    val clone = after.find(_._2 == 1000000L)
    assert(clone.isDefined, s"appended clone not found in ${after.toSeq}")
    assert(clone.get._3 == 1.0, s"clone cosine ${clone.get._3}")
  }

  test("OPQ: streamed probe micro-batches union to the declared stored probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vecstreamopq")
      .toString + "/opq"
    Pq.writeOpqIndex(spark, fixture, dir)
    val expect = Pq.topkOpqStored(spark, fixture, dir)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(expect.nonEmpty)

    val mem = MemoryStream[QVec]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double, Int)]
    val q = MicroBatch.start(withNorm(mem.toDF()).writeStream) { b =>
      got ++= Pq.topkOpqStoredFor(b.sparkSession, b, fixture, dir)
        .as[(Long, Long, Double, Int)].collect()
    }
    try {
      val qs = fixtureQueries
      val (b1, b2) = qs.splitAt(qs.length / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expect,
      "streamed OPQ probe diverged from the declared stored probe")
  }

  test("delete stream: takedown ids vanish from the next probe on") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vecstreamd")
      .toString + "/lsh"
    Similarity.writeLshIndex(spark, fixture, dir)

    val probeQ = withNorm(Seq(
      QVec(999999L, fixtureQueries.head.q_emb)).toDF("q_id", "q_emb"))
    def hits(): Seq[Long] = Similarity.topkLshStoredFor(spark, probeQ, dir)
      .select($"n_id").as[Long].collect().toSeq
    val before = hits()
    assert(before.size >= 2, "fixture probe returned too few neighbors")

    val mem = MemoryStream[Long]
    val q = MicroBatch.start(mem.toDF().writeStream)(b =>
      Similarity.deleteFromIndex(b.sparkSession, dir, b))
    try {
      // two micro-batches, one takedown each — both must be folded
      mem.addData(before.head)
      q.processAllAvailable()
      mem.addData(before(1))
      q.processAllAvailable()
    } finally q.stop()

    val after = hits()
    assert(!after.contains(before.head) && !after.contains(before(1)),
      s"deleted ids still served: $after")
    assert(after.nonEmpty, "deletion emptied the probe — anti-join too broad")
  }

  test("compressed compositions: streamed probe micro-batches union to the stored probes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Pq, Sq}
    val base = java.nio.file.Files.createTempDirectory("vecstreamc").toString
    val (ivfDir, pqDir, resDir, sqDir) =
      (s"$base/ivf", s"$base/pq", s"$base/res", s"$base/sq")
    Similarity.writeIvfIndex(spark, fixture, ivfDir)
    Pq.writePqIndex(spark, fixture, pqDir)
    Pq.writeResPqIndex(spark, fixture, resDir)
    Sq.writeSqIndex(spark, fixture, sqDir)

    def run(label: String,
        probe: (SparkSession, org.apache.spark.sql.DataFrame) =>
          org.apache.spark.sql.DataFrame,
        expected: Set[(Long, Long, Double, Int)]): Unit = {
      assert(expected.nonEmpty, s"$label: empty expectation")
      val results =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double, Int)]
      val mem = MemoryStream[QVec]
      val q = MicroBatch.start(withNorm(mem.toDF()).writeStream) { b =>
        probe(b.sparkSession, b)
          .as[(Long, Long, Double, Int)].collect().foreach(results.add)
      }
      try {
        val qs = fixtureQueries
        val (a, b) = qs.splitAt(qs.length / 2)
        mem.addData(a.toSeq: _*)
        q.processAllAvailable()
        mem.addData(b.toSeq: _*)
        q.processAllAvailable()
        import scala.jdk.CollectionConverters._
        assert(results.asScala.toSet == expected,
          s"$label: stream ${results.size} rows != batch ${expected.size}")
      } finally q.stop()
    }

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSet
    val declared = Pq.queryRelation(spark, fixture)
    run("ivfpq",
      (s, qs) => Pq.topkIvfPqStoredFor(s, qs, fixture, ivfDir, pqDir),
      rows(Pq.topkIvfPqStoredFor(spark, declared, fixture, ivfDir, pqDir)))
    run("ivfpq_res",
      (s, qs) => Pq.topkIvfPqResStoredFor(s, qs, fixture, ivfDir, resDir),
      rows(Pq.topkIvfPqResStoredFor(spark, declared, fixture, ivfDir, resDir)))
    run("ivfsq",
      (s, qs) => Sq.topkIvfSqStoredFor(s, qs, fixture, ivfDir, sqDir),
      rows(Sq.topkIvfSqStoredFor(spark, declared, fixture, ivfDir, sqDir)))

    val bqDir = s"$base/bq"
    graft.operators.Bq.writeBqIndex(spark, fixture, bqDir)
    run("bq",
      (s, qs) => graft.operators.Bq.topkBqStoredFor(s, qs, fixture, bqDir),
      rows(graft.operators.Bq.topkBqStored(spark, fixture, bqDir)))
  }

  test("residual append stream: streamed codes equal the build's for clones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Pq
    val base = java.nio.file.Files.createTempDirectory("vecstreamr").toString
    val (ivfDir, resDir) = (s"$base/ivf", s"$base/res")
    Similarity.writeIvfIndex(spark, fixture, ivfDir)
    Pq.writeResPqIndex(spark, fixture, resDir)

    val clones = graft.Tables.embeddings(spark, fixture)
      .filter($"vec_id" < 10)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    val mem = MemoryStream[NVec]
    val q = MicroBatch.start(mem.toDF().writeStream)(b =>
      Pq.appendToResPqIndex(b.sparkSession, ivfDir, resDir, b))
    try {
      val (a, b) = clones.splitAt(clones.length / 2)
      mem.addData(a.map { case (id, e) => NVec(id + 1000000L, e) }.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b.map { case (id, e) => NVec(id + 1000000L, e) }.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    val codes = spark.read.parquet(s"$resDir/codes")
      .as[(Long, Long, Array[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3.toSeq))).toMap
    clones.foreach { case (id, _) =>
      assert(codes(id + 1000000L) == codes(id),
        s"streamed residual append (cell, codes) for clone of $id diverged")
    }
  }

  test("OPQ-R: streamed probe micro-batches union to the declared stored probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vecstreamor")
      .toString + "/opqrot"
    Pq.writeOpqRotIndex(spark, fixture, dir)
    val expect = Pq.topkOpqRotStored(spark, fixture, dir)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(expect.nonEmpty)
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double, Int)]
    val mem = MemoryStream[QVec]
    val q = MicroBatch.start(withNorm(mem.toDF()).writeStream) { b =>
      got ++= Pq.topkOpqRotStoredFor(b.sparkSession, b, fixture, dir)
        .as[(Long, Long, Double, Int)].collect()
    }
    try {
      val qs = fixtureQueries
      val (b1, b2) = qs.splitAt(qs.length / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expect,
      "streamed OPQ-R probe diverged from the declared stored probe")
  }

  test("hard-negative mining: streamed anchors union to the batch miner; streamed labeled appends are minable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vecstreamhn")
      .toString + "/hn"
    Similarity.writeHardNegIndex(spark, fixture, dir)
    val expect = Similarity.hardNegativesAnnStored(spark, fixture, dir)
      .as[(Long, Int, Long, Int, Double, Int)].collect().toSet
    assert(expect.nonEmpty)
    // anchors = the declared stride with labels, streamed in two batches
    val anchors = graft.Tables.embeddings(spark, fixture)
      .filter($"vec_id" % 100 === 0)
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Array[Float], Int)].collect()
    val got = scala.collection.mutable.Set.empty[(Long, Int, Long, Int, Double, Int)]
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val withN = mem.toDF().toDF("q_id", "q_emb", "q_label")
      .select($"q_id", $"q_emb",
        graft.functions.VectorFunctions.norm($"q_emb").as("q_nrm"), $"q_label")
    val q = MicroBatch.start(withN.writeStream) { b =>
      got ++= Similarity.hardNegativesAnnFor(b.sparkSession, fixture, dir, b)
        .as[(Long, Int, Long, Int, Double, Int)].collect()
    }
    try {
      val (b1, b2) = anchors.splitAt(anchors.length / 2)
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expect,
      "streamed mining diverged from the batch miner")
    // streamed labeled append: a fresh-id clone of a corpus vector with
    // a unique label becomes a minable negative from the next trigger
    val (cid, cemb, _) = anchors.head
    val memA = MemoryStream[(Long, Array[Float], Int)]
    val qa = MicroBatch.start(
      memA.toDF().toDF("vec_id", "embedding", "label").writeStream)(b =>
      Similarity.appendToHardNegIndex(b.sparkSession, dir, b))
    try {
      memA.addData((cid + 5000000L, cemb, 999))
      qa.processAllAvailable()
    } finally qa.stop()
    val after = Similarity.hardNegativesAnnStored(spark, fixture, dir)
      .as[(Long, Int, Long, Int, Double, Int)].collect()
    // the clone is cosine-1.0 to its source anchor and label-distinct,
    // so it must now appear among that anchor's negatives
    assert(after.exists(r => r._1 == cid && r._3 == cid + 5000000L),
      "appended labeled vector did not become minable")
  }
}
