package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** Ingest-time document row for [[DocStream]] tests. */
case class IngestDoc(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long, ingest_ts: Timestamp)

/** [[DocStream.curateStream]] — the batch-parity contract (replaying a
  * corpus in doc_id order yields exactly the declared `pipe_curate`
  * survivors minus the batch-only packing stage) plus the directed
  * streaming-only behaviors: cross-batch duplicate drop via bounded
  * state and the historical-keeplist anti-join.
  */
class DocStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(min: Long): Timestamp = new Timestamp((1440 + min) * 60000L)

  /** First two hex chars of md5(id.toString) — the spec-side restatement
    * of [[TextAnalysis.splitPrefix]] used to PICK ids per split; the
    * parity test itself exercises the real column expression.
    */
  private def md5Prefix(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).take(1)
      .map("%02x".format(_)).mkString

  private def isEval(id: Long): Boolean =
    md5Prefix(id) < TextAnalysis.EvalSplitThreshold

  /** A gate-passing text: `n` distinct pure-letter 8-char words from a
    * seeded vocabulary (length ≥ 100, alpha ratio ≈ 0.9, TTR 1.0).
    */
  private def goodText(seed: Int, n: Int = 15): String =
    (0 until n).map { i =>
      val c = ('a' + (seed * 7 + i) % 26).toChar
      val d = ('a' + (seed * 3 + i * 5) % 26).toChar
      s"$c$d" + ('a' + (seed + i) % 26).toChar.toString * 6
    }.mkString(" ")

  test("two-batch replay equals batch pipe_curate survivors (pre-pack)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // ids picked by split: train ids ascending, two eval ids
    val trainIds = (1L to 200L).filterNot(isEval)
    val evalIds = (1L to 200L).filter(isEval)
    assert(evalIds.size >= 2, s"fixture needs 2 eval ids, got $evalIds")

    val tShared = goodText(1) // exact-dup text (within-batch pair)
    val tCross = goodText(2) // exact-dup text (cross-batch pair)
    val tEval = goodText(3, 20) // eval doc; grams contaminate
    val tWinner = goodText(4) // eval-split dedup winner shadows a train copy
    // contaminated train doc: its OWN prefix + an 8-token run of tEval
    val tContam = goodText(5, 10) + " " +
      tEval.split(" ").slice(4, 4 + TextAnalysis.DecontamN).mkString(" ")

    val t = trainIds.iterator
    val docs = Seq(
      IngestDoc(t.next(), goodText(10), "en", "web", 0, ts(0)), // survives
      IngestDoc(t.next(), goodText(11), "en", "book", 0, ts(1)), // survives
      IngestDoc(t.next(), "too short", "en", "web", 0, ts(2)), // gate: length
      IngestDoc(t.next(), ("x1 23456 " * 14) + "abcdefgh", "en", "web", 0,
        ts(3)), // gate: alpha ratio
      IngestDoc(t.next(), tShared, "en", "web", 0, ts(4)), // dup winner
      IngestDoc(t.next(), tShared, "en", "web", 0, ts(5)), // dup dropped
      IngestDoc(t.next(), tContam, "en", "web", 0, ts(6)), // decontam drop
      IngestDoc(evalIds.head, tEval, "en", "eval", 0, ts(7)), // split drop
      IngestDoc(evalIds(1), tWinner, "en", "eval", 0, ts(8)), // split drop
      IngestDoc(t.next(), tCross, "en", "web", 0, ts(9)), // cross-batch winner
      IngestDoc(t.next(), goodText(12), "en", "cc", 0, ts(10)), // survives
      IngestDoc(t.next(), tWinner, "en", "web", 0, ts(11)), // shadowed by eval
      IngestDoc(t.next(), tCross, "en", "web", 0, ts(12)) // cross-batch dup
    ).sortBy(_.doc_id)

    val dir = java.nio.file.Files.createTempDirectory("docstream").toString
    docs.toDF().select($"doc_id", $"text", $"lang", $"source",
      length($"text").cast("long").as("n_chars"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val expected = TextAnalysis.queries("pipe_curate")(spark, dir)
      .select($"doc_id", $"source", $"n_tokens".cast("long"))
      .as[(Long, String, Long)].collect().toSet
    assert(expected.size == 5, s"fixture should keep exactly 5: $expected")

    val evalGrams = spark.read.parquet(s"$dir/documents.parquet")
      .filter(TextAnalysis.splitPrefix($"doc_id") <
        TextAnalysis.EvalSplitThreshold)
      .select(explode(TextAnalysis.decontamGramHashes($"text")).as("gh"))
      .distinct().as[Long].collect()

    val mem = MemoryStream[IngestDoc]
    val q = DocStream.curateStream(mem.toDF(), evalGrams)
      .writeStream.format("memory").queryName("doc_curated")
      .outputMode(OutputMode.Append()).start()
    try {
      // arrival order = ascending doc_id (the parity precondition),
      // split into two micro-batches so the dedup state must persist
      val (b1, b2) = docs.splitAt(docs.length / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("doc_curated")
        .select($"doc_id", $"source", $"n_tokens".cast("long"))
        .as[(Long, String, Long)].collect().toSet
      assert(got == expected, s"stream $got != batch $expected")
      // the streamed fp matches the batch content-hash convention
      val fps = spark.table("doc_curated").select($"fp").as[String]
        .collect().toSet
      val batchFps = spark.read.parquet(s"$dir/documents.parquet")
        .join(expected.map(_._1).toSeq.toDF("doc_id"), Seq("doc_id"))
        .select(md5($"text")).as[String].collect().toSet
      assert(fps == batchFps)
    } finally q.stop()
  }

  test("historical keeplist drops re-ingested content; fresh content passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val known = goodText(20)
    val fresh = goodText(21)
    val keep = Seq(known).toDF("text").select(md5($"text").as("fp"))

    val mem = MemoryStream[IngestDoc]
    // both ids train-split so only the keeplist decides
    val ids = (1L to 100L).filterNot(isEval)
    val q = DocStream.curateStream(mem.toDF(), Array.empty[Long], Some(keep))
      .writeStream.format("memory").queryName("doc_keep")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        IngestDoc(ids.head, known, "en", "web", 0, ts(0)),
        IngestDoc(ids(1), fresh, "en", "web", 0, ts(1)))
      q.processAllAvailable()
      val got = spark.table("doc_keep").select($"doc_id").as[Long]
        .collect().toSet
      assert(got == Set(ids(1)), s"got $got")
    } finally q.stop()
  }

  test("streamed NB scoring equals the stored-model batch scores, split across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = "/root/testdata/sf0.001"
    val modelDir = java.nio.file.Files.createTempDirectory("nbstream")
      .toString + "/nbmodel"
    TextAnalysis.writeNbModel(spark, dir, modelDir)

    // the batch truth: every fixture doc scored from the same stored
    // model (the txt_quality_classifier_stored scoring half)
    val (w, prior) = TextAnalysis.readNbModel(spark, modelDir)
    val expected = TextAnalysis.scoreDocsWithNbModel(
        spark.read.parquet(s"$dir/documents.parquet"), w, prior)
      .as[(Long, Double)].collect().toMap

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy($"doc_id")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .withColumn("ingest_ts", lit(ts(0)))
      .as[IngestDoc].collect().toSeq

    val got = scala.collection.mutable.Map.empty[Long, Double]
    val mem = MemoryStream[IngestDoc]
    val q = DocStream.scoreStream(mem.toDF(), modelDir) { scored =>
      got.synchronized {
        scored.as[(Long, Double)].collect().foreach { case (id, sc) =>
          // append-only serving log: a doc scores once per arrival
          assert(!got.contains(id), s"doc $id scored twice")
          got(id) = sc
        }
      }
    }
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      assert(got.size == expected.size)
      assert(got.toMap == expected,
        s"first diff: ${(got.toMap.toSet diff expected.toSet).take(3)}")
    } finally q.stop()
  }

  test("streamed NB ingest/takedown equal their batch kernels across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = "/root/testdata/sf0.001"
    val modelDir = java.nio.file.Files.createTempDirectory("nblifestream")
      .toString + "/nbmodel"
    // base model on the historical slice; the streamed feeds carry
    // the batch slice in two triggers each
    TextAnalysis.writeNbModel(spark, dir, modelDir,
      col("doc_id") % 10 =!= 0)
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"doc_id" % 10 === 0).orderBy($"doc_id")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .withColumn("ingest_ts", lit(ts(0)))
      .as[IngestDoc].collect().toSeq
    def model(): (Map[String, Double], Double) = {
      val (w, p) = TextAnalysis.readNbModel(spark, modelDir)
      (w.as[(String, Double)].collect().toMap, p)
    }
    val base = model()

    val mem = MemoryStream[IngestDoc]
    val q = MicroBatch.start(mem.toDF().writeStream)(b =>
      TextAnalysis.appendToNbModel(b.sparkSession, modelDir, b))
    try {
      val (b1, b2) = batchDocs.splitAt(batchDocs.length / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // batch truth: one appendToNbModel of the whole batch slice
    val truthDir = java.nio.file.Files.createTempDirectory("nblifetruth")
      .toString + "/nbmodel"
    TextAnalysis.writeNbModel(spark, dir, truthDir,
      col("doc_id") % 10 =!= 0)
    TextAnalysis.appendToNbModel(spark, truthDir,
      spark.read.parquet(s"$dir/documents.parquet")
        .filter($"doc_id" % 10 === 0))
    val truth = {
      val (w, p) = TextAnalysis.readNbModel(spark, truthDir)
      (w.as[(String, Double)].collect().toMap, p)
    }
    assert(model() == truth,
      "two streamed ingest triggers must equal the one-batch append")

    // streamed takedown of the same docs restores the base model
    val mem2 = MemoryStream[IngestDoc]
    val q2 = MicroBatch.start(mem2.toDF().writeStream)(b =>
      TextAnalysis.deleteFromNbModel(b.sparkSession, modelDir, b))
    try {
      val (b1, b2) = batchDocs.splitAt(batchDocs.length / 3)
      mem2.addData(b1: _*); q2.processAllAvailable()
      mem2.addData(b2: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(model() == base,
      "streamed ingest + streamed takedown must be an exact involution")
  }

  test("cdcMassStream: probe-before-append — batch 2 sees batch 1 as historical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val sf = "/root/testdata/sf0.001"
    val idxDir = java.nio.file.Files.createTempDirectory("cdcstream").toString
    Dedup.writeCdcIndex(spark, sf, idxDir,
      col("doc_id") % Dedup.IncrementalMod =!= 0)
    // driver-side kernel reference: per arriving doc, dup mass vs the
    // hashes historical AT ITS ARRIVAL (old corpus for batch 1, old ∪
    // batch 1 for batch 2 — the append-visibility contract)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val oldH = scala.collection.mutable.Set.empty[Long]
    docs.filter(_._1 % Dedup.IncrementalMod != 0)
      .foreach(kv => oldH ++= Dedup.cdcChunks(kv._2).map(_._1))
    val batch = docs.filter(_._1 % Dedup.IncrementalMod == 0)
      .sortBy(_._1)
    val (b1, b2) = batch.splitAt(batch.length / 2)
    val expected = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    for (half <- Seq(b1, b2)) {
      for ((id, t) <- half) {
        val ch = Dedup.cdcChunks(t)
        expected(id) = ((ch.size.toLong,
          ch.count(c => oldH(c._1)).toLong,
          ch.filter(c => oldH(c._1)).map(_._2.toLong).sum))
      }
      // the whole half appends AFTER the half probes (micro-batch
      // granularity, not per-doc)
      half.foreach { case (_, t) => oldH ++= Dedup.cdcChunks(t).map(_._1) }
    }
    val got = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    val mem = MemoryStream[IngestDoc]
    val q = DocStream.cdcMassStream(mem.toDF(), idxDir) { out =>
      got.synchronized {
        out.collect().foreach { r =>
          val id = r.getLong(0)
          assert(!got.contains(id), s"doc $id reported twice")
          got(id) = ((r.getLong(1), r.getLong(2), r.getLong(3)))
        }
      }
    }
    def row(id: Long, t: String) =
      IngestDoc(id, t, "en", "a", t.length.toLong, ts(0))
    try {
      mem.addData(b1.map { case (id, t) => row(id, t) }: _*)
      q.processAllAvailable()
      mem.addData(b2.map { case (id, t) => row(id, t) }: _*)
      q.processAllAvailable()
      assert(got.size == expected.size)
      assert(got.toMap == expected.toMap,
        s"first diff: ${(got.toSet diff expected.toSet).take(3)}")
    } finally q.stop()
  }

  test("cdcDeleteStream: streamed takedowns equal the batch delete") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    def passage(seed: String): String =
      (0 until 40).map(i => s"$seed$i tok$i w${i * 7 % 13}").mkString(" ")
    val a = passage("alpha"); val b = passage("bravo")
    val tmp = java.nio.file.Files.createTempDirectory("cdcdelstream").toString
    Seq((1L, a), (2L, s"intro $a"), (3L, b), (10L, s"$a mid $b"))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("spec").as("source"), length($"text").cast("long").as("n_chars"))
      .write.parquet(s"$tmp/documents.parquet")
    val streamed = s"$tmp/s"; val batch = s"$tmp/b"
    for (d <- Seq(streamed, batch))
      Dedup.writeCdcIndex(spark, tmp, d, col("doc_id") % 10 =!= 0)
    Dedup.deleteFromCdcIndex(spark, tmp, batch, col("doc_id") === 3L)
    Dedup.deleteFromCdcIndex(spark, tmp, batch, col("doc_id") === 1L)
    val mem = MemoryStream[IngestDoc]
    val q = MicroBatch.start(mem.toDF().writeStream)(b =>
      Dedup.deleteChunkHashesFor(b.sparkSession, streamed, b))
    try {
      mem.addData(IngestDoc(3L, b, "en", "spec", b.length.toLong, ts(0)))
      q.processAllAvailable()
      mem.addData(IngestDoc(1L, a, "en", "spec", a.length.toLong, ts(0)))
      q.processAllAvailable()
    } finally q.stop()
    def probe(d: String) = Dedup.incrementalCdcMass(spark, tmp, d)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(probe(streamed) == probe(batch),
      "streamed takedown diverged from the batch delete")
    // and the takedown bit: B's sole carrier is gone, A survives via 2
    val r = probe(streamed).find(_._1 == 10L).get
    assert(r._3 > 0 && r._3 < r._2,
      s"expected partial dup mass after takedown: $r")
  }

  test("bm25DeleteStream: streamed doc takedowns vanish from the next probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Lexical
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("lexdelstream").toString
    Lexical.writeLexIndex(spark, sf, dir)
    val before = Lexical.topkBm25Stored(spark, dir)
      .select($"doc_id").as[Long].collect().toSeq
    assert(before.size >= 2, "fixture probe returned too few docs")
    val mem = MemoryStream[Long]
    val q = MicroBatch.start(mem.toDF().writeStream)(b =>
      Lexical.deleteFromLexIndex(b.sparkSession, dir, b))
    try {
      mem.addData(before.head)
      q.processAllAvailable()
      mem.addData(before(1))
      q.processAllAvailable()
    } finally q.stop()
    val after = Lexical.topkBm25Stored(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    assert(!after.contains(before.head) && !after.contains(before(1)),
      s"deleted docs still served: $after")
    assert(after.nonEmpty, "deletion emptied the probe — anti-join too broad")
  }
}
