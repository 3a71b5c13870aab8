package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Minimal document row for the KMV streaming tests. */
case class KmvDoc(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

/** txt_distinct_kmv — the KMV sketch's estimator and algebra: accuracy
  * against the exact distinct count, the exact small-sketch branch,
  * and the union property the TOTAL scope is read from.
  */
class KmvSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def result() = {
    import spark.implicits._
    TextAnalysis.queries("txt_distinct_kmv")(spark, sf)
      .as[(String, Int, java.lang.Long, Double)].collect()
      .map { case (scope, k, kth, est) => scope -> ((k, kth, est)) }.toMap
  }

  /** Exact distinct 63-bit shingle hashes, per source — the ground
    * truth the estimator approximates, and the raw stream the merge
    * test recomputes sketches from.
    */
  private def exactSets(): Map[String, Set[Long]] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.Tables.documents(spark, sf)
      .select($"source", explode(Dedup.shingleHashes($"text")).as("h64"))
      .select($"source", ($"h64".bitwiseAND(lit(Long.MaxValue))).as("h"))
      .as[(String, Long)].collect()
      .groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).toSet }
  }

  test("estimate lands within the sketch's error class of the exact count") {
    val exact = exactSets()
    val res = result()
    val exactTotal = exact.values.flatten.toSet.size
    val estTotal = res("*")._3
    info(f"total: exact=$exactTotal est=$estTotal%.1f " +
      f"(err ${(estTotal - exactTotal) / exactTotal * 100}%.1f%%)")
    // 1/sqrt(1024) ~ 3.1% sigma; 15% is ~5 sigma on the fixed corpus
    assert(math.abs(estTotal - exactTotal) <= 0.15 * exactTotal)
    exact.foreach { case (src, set) =>
      val (_, _, est) = res(src)
      assert(math.abs(est - set.size) <= math.max(0.15 * set.size, 1.0),
        s"$src: exact=${set.size} est=$est")
    }
  }

  test("a sketch that never filled reports the exact count") {
    val exact = exactSets()
    val res = result()
    res.foreach { case (scope, (kUsed, _, est)) =>
      if (kUsed < TextAnalysis.KmvK) {
        val truth = if (scope == "*") exact.values.flatten.toSet.size
          else exact(scope).size
        assert(kUsed == truth && est == truth.toDouble,
          s"$scope: k_used=$kUsed est=$est exact=$truth")
      }
    }
  }

  /** First two hex chars of md5(id.toString) — the DocStreamSpec
    * restatement of [[TextAnalysis.splitPrefix]], used to PICK ids.
    */
  private def md5Prefix(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).take(1)
      .map("%02x".format(_)).mkString

  private def isEval(id: Long): Boolean =
    md5Prefix(id) < TextAnalysis.EvalSplitThreshold

  test("unfilled theta-intersection is EXACT: overlap estimates equal true set algebra") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a controlled corpus small enough that every sketch is unfilled:
    // theta = 2^63-1, the cuts are the full sets, and the estimator
    // must reduce to exact set algebra — engineered partial overlap
    // between each source's train docs and the eval split
    val ids = (1L to 400L)
    val evalIds = ids.filter(isEval).take(2)
    val trainIds = ids.filterNot(isEval).take(4)
    def words(a: Int, b: Int): String = (a until b).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      (trainIds(0), words(0, 40), "en", "srcA", 0L),   // shares 0..20 with eval1
      (trainIds(1), words(100, 140), "en", "srcA", 0L), // disjoint from eval
      (trainIds(2), words(10, 30), "en", "srcB", 0L),  // inside eval1's range
      (trainIds(3), words(200, 240), "en", "srcB", 0L),
      (evalIds(0), words(0, 21), "en", "srcA", 0L),
      (evalIds(1), words(220, 230), "en", "srcB", 0L))
    val dir = java.nio.file.Files.createTempDirectory("kmvov").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val base = graft.Tables.documents(spark, dir)
      .select($"source", TextAnalysis.splitPrefix($"doc_id").as("split"),
        explode(Dedup.shingleHashes($"text")).as("h64"))
      .select($"source", $"split",
        ($"h64".bitwiseAND(lit(Long.MaxValue))).as("h"))
    val train = base.filter($"split" >= TextAnalysis.EvalSplitThreshold)
      .select($"source", $"h").as[(String, Long)].collect()
      .groupBy(_._1).map { case (s, r) => s -> r.map(_._2).toSet }
    val eval = base.filter($"split" < TextAnalysis.EvalSplitThreshold)
      .select($"h").as[Long].collect().toSet
    assert(eval.nonEmpty && train.size == 2)
    assert(eval.size < TextAnalysis.KmvK &&
      train.values.forall(_.size < TextAnalysis.KmvK))
    val res = TextAnalysis.queries("txt_overlap_kmv")(spark, dir)
      .as[(String, Int, Int, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(res.keySet == train.keySet)
    train.foreach { case (src, set) =>
      val (_, nInter, nUnion, estInter, jac) = res(src)
      val trueI = (set & eval).size
      val trueU = (set | eval).size
      assert(trueI > 0, s"$src: fixture lost its engineered overlap")
      assert(nInter == trueI && nUnion == trueU,
        s"$src: ($nInter,$nUnion) != exact ($trueI,$trueU)")
      assert(estInter == trueI.toDouble, s"$src est_inter $estInter != $trueI")
      val trueJ = BigDecimal(trueI.toDouble / trueU)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(jac - trueJ) < 1e-9, s"$src jaccard $jac != $trueJ")
    }
  }

  test("stored sketch + batch merges equal the one-shot sketch of the union") {
    import spark.implicits._
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"m${seed}w$i").mkString(" ")
    val a = (1L to 30L).map(i => KmvDoc(i, words(i.toInt, 20), "en",
      s"src${i % 3}", 0L))
    val b = (31L to 60L).map(i => KmvDoc(i, words(i.toInt / 2, 25), "en",
      s"src${i % 3}", 0L))
    val dirA = java.nio.file.Files.createTempDirectory("kmvA").toString
    val dirAB = java.nio.file.Files.createTempDirectory("kmvAB").toString
    a.toDF().write.parquet(s"$dirA/documents.parquet")
    (a ++ b).toDF().write.parquet(s"$dirAB/documents.parquet")

    val sketchDir = java.nio.file.Files.createTempDirectory("kmvsk")
      .toString + "/sketch"
    TextAnalysis.writeKmvSketch(spark, dirA, sketchDir)
    TextAnalysis.mergeIntoKmvSketch(spark, sketchDir, b.toDF())

    def sk(dir: String) = spark.read.parquet(dir)
      .as[(String, Seq[Long])].collect().toMap
    val oneShotDir = java.nio.file.Files.createTempDirectory("kmv1")
      .toString + "/sketch"
    TextAnalysis.writeKmvSketch(spark, dirAB, oneShotDir)
    assert(sk(sketchDir) == sk(oneShotDir),
      "incremental merge diverged from the one-shot sketch")
    // and the declared stored query agrees with the session query
    val session = TextAnalysis.queries("txt_distinct_kmv")(spark, dirAB)
      .as[(String, Int, java.lang.Long, Double)].collect().toSet
    val stored = TextAnalysis.queries("txt_distinct_kmv_stored")(spark, dirAB)
      .as[(String, Int, java.lang.Long, Double)].collect().toSet
    assert(session.nonEmpty && stored == session)
  }

  test("streamed sketch maintenance equals the one-shot sketch (two-batch replay)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"s${seed}w$i").mkString(" ")
    val docs = (1L to 40L).map(i => KmvDoc(i, words(i.toInt % 7, 22), "en",
      s"src${i % 2}", 0L))
    val sketchDir = java.nio.file.Files.createTempDirectory("kmvstream")
      .toString + "/sketch"
    // seed the stored relation (empty corpus) so the first merge reads it
    val emptyDir = java.nio.file.Files.createTempDirectory("kmvempty").toString
    Seq.empty[KmvDoc].toDF().write.parquet(s"$emptyDir/documents.parquet")
    TextAnalysis.writeKmvSketch(spark, emptyDir, sketchDir)

    val mem = MemoryStream[KmvDoc]
    val q = graft.streaming.MicroBatch.start(mem.toDF().writeStream)(b =>
      TextAnalysis.mergeIntoKmvSketch(b.sparkSession, sketchDir, b))
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val oneShotDir = java.nio.file.Files.createTempDirectory("kmvall").toString
    docs.toDF().write.parquet(s"$oneShotDir/documents.parquet")
    val expectDir = java.nio.file.Files.createTempDirectory("kmvexp")
      .toString + "/sketch"
    TextAnalysis.writeKmvSketch(spark, oneShotDir, expectDir)
    def sk(dir: String) = spark.read.parquet(dir)
      .as[(String, Seq[Long])].collect().toMap
    assert(sk(sketchDir) == sk(expectDir),
      "streamed sketch diverged from the one-shot sketch")
  }

  test("TOTAL scope equals the sketch of the union (KMV merge property)") {
    val exact = exactSets()
    val res = result()
    val k = TextAnalysis.KmvK
    // ground-truth global sketch: k smallest distinct hashes overall
    val globalSketch = exact.values.flatten.toSet.toSeq.sorted.take(k)
    val (kUsed, kth, _) = res("*")
    assert(kUsed == math.min(k, globalSketch.size))
    assert(kth.longValue == globalSketch.last,
      s"total kth ${kth} != ground truth ${globalSketch.last}")
    // and the same holds per source (each scope IS a KMV sketch)
    exact.foreach { case (src, set) =>
      val sk = set.toSeq.sorted.take(k)
      assert(res(src)._2.longValue == sk.last, s"$src kth mismatch")
    }
  }
}
