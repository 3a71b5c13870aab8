package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Minimal document row for the CMS streaming tests. */
case class CmsDoc(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

/** txt_heavy_hitters — the count-min sketch's no-undercount guarantee,
  * the exactness of the cull→verify composition, the merge linearity
  * the stored lifecycle relies on, and the streamed maintenance.
  */
class CmsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** Exact token counts — the ground truth the CMS over-approximates
    * and the heavy-hitter gate is defined against.
    */
  private def exactCounts(dir: String): Map[String, Long] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens($"text")).as("token"))
      .groupBy($"token").count()
      .as[(String, Long)].collect().toMap
  }

  test("CMS never undercounts: estimate >= true count for every token") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val exact = exactCounts(sf)
    val toks = graft.Tables.documents(spark, sf)
      .select(explode(TextAnalysis.tokens($"text")).as("token")).as[String]
    val (tab, total) = TextAnalysis.buildCms(toks)
    assert(total == exact.values.sum, "sketch total != token count")
    val under = exact.filter { case (t, c) => TextAnalysis.cmsMin(tab, t) < c }
    assert(under.isEmpty, s"CMS undercounted ${under.take(3)}")
    // and the overcount stays inside the (e/width)·N analysis bound
    // (per-row expected overflow; 8x slack keeps the fixed corpus from
    // flapping while still catching a broken hash family)
    val bound = 8.0 * math.E / TextAnalysis.CmsWidth * total
    val worst = exact.map { case (t, c) =>
      TextAnalysis.cmsMin(tab, t) - c }.max
    assert(worst <= bound, s"overcount $worst blows the bound $bound")
  }

  test("heavy hitters equal the exact GROUP BY ... HAVING answer") {
    val exact = exactCounts(sf)
    val total = exact.values.sum
    val thresh = math.max(1L, math.ceil(TextAnalysis.HhPhi * total).toLong)
    val expect = exact.filter(_._2 >= thresh)
    assert(expect.nonEmpty, "fixture produced no heavy hitters")
    import spark.implicits._
    val got = TextAnalysis.queries("txt_heavy_hitters")(spark, sf)
      .as[(String, Long, Double)].collect()
      .map { case (t, c, _) => t -> c }.toMap
    assert(got == expect, s"got ${got.size} rows, expected ${expect.size}")
  }

  test("stored sketch + batch merge equals the one-shot sketch (linearity)") {
    import spark.implicits._
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"c${seed}w${i % 11}").mkString(" ")
    val a = (1L to 30L).map(i => CmsDoc(i, words(i.toInt % 5, 20), "en",
      s"src${i % 3}", 0L))
    val b = (31L to 60L).map(i => CmsDoc(i, words(i.toInt % 7, 25), "en",
      s"src${i % 3}", 0L))
    val dirA = java.nio.file.Files.createTempDirectory("cmsA").toString
    val dirAB = java.nio.file.Files.createTempDirectory("cmsAB").toString
    a.toDF().write.parquet(s"$dirA/documents.parquet")
    (a ++ b).toDF().write.parquet(s"$dirAB/documents.parquet")

    val sketchDir = java.nio.file.Files.createTempDirectory("cmssk")
      .toString + "/sketch"
    TextAnalysis.writeCmsSketch(spark, dirA, sketchDir)
    TextAnalysis.mergeIntoCmsSketch(spark, sketchDir, b.toDF())

    def cells(dir: String) = spark.read.parquet(dir)
      .as[(Int, Int, Long)].collect().toSet
    val oneShotDir = java.nio.file.Files.createTempDirectory("cms1")
      .toString + "/sketch"
    TextAnalysis.writeCmsSketch(spark, dirAB, oneShotDir)
    assert(cells(sketchDir) == cells(oneShotDir),
      "incremental merge diverged from the one-shot sketch")
    // and the declared stored query agrees with the session query
    val session = TextAnalysis.queries("txt_heavy_hitters")(spark, dirAB)
      .as[(String, Long, Double)].collect().toSet
    val stored = TextAnalysis.queries("txt_heavy_hitters_stored")(spark, dirAB)
      .as[(String, Long, Double)].collect().toSet
    assert(session.nonEmpty && stored == session)
  }

  test("streamed sketch maintenance equals the one-shot sketch (two-batch replay)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"h${seed}w${i % 9}").mkString(" ")
    val docs = (1L to 40L).map(i => CmsDoc(i, words(i.toInt % 6, 22), "en",
      s"src${i % 2}", 0L))
    val sketchDir = java.nio.file.Files.createTempDirectory("cmsstream")
      .toString + "/sketch"
    // seed the stored relation (empty corpus) so the first merge reads it
    val emptyDir = java.nio.file.Files.createTempDirectory("cmsempty").toString
    Seq.empty[CmsDoc].toDF().write.parquet(s"$emptyDir/documents.parquet")
    TextAnalysis.writeCmsSketch(spark, emptyDir, sketchDir)

    val mem = MemoryStream[CmsDoc]
    val q = graft.streaming.MicroBatch.start(mem.toDF().writeStream)(b =>
      TextAnalysis.mergeIntoCmsSketch(b.sparkSession, sketchDir, b))
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val oneShotDir = java.nio.file.Files.createTempDirectory("cmsall").toString
    docs.toDF().write.parquet(s"$oneShotDir/documents.parquet")
    val expectDir = java.nio.file.Files.createTempDirectory("cmsexp")
      .toString + "/sketch"
    TextAnalysis.writeCmsSketch(spark, oneShotDir, expectDir)
    def cells(dir: String) = spark.read.parquet(dir)
      .as[(Int, Int, Long)].collect().toSet
    assert(cells(sketchDir) == cells(expectDir),
      "streamed sketch diverged from the one-shot sketch")
  }

  test("takedown: subtracting a merged batch leaves the sketch bit-identical to the survivors'") {
    import spark.implicits._
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"t${seed}w${i % 13}").mkString(" ")
    val keep = (1L to 25L).map(i => CmsDoc(i, words(i.toInt % 4, 18), "en",
      s"src${i % 2}", 0L))
    val gone = (26L to 45L).map(i => CmsDoc(i, words(i.toInt % 6, 22), "en",
      s"src${i % 2}", 0L))
    val dirAll = java.nio.file.Files.createTempDirectory("cmsDall").toString
    val dirKeep = java.nio.file.Files.createTempDirectory("cmsDkeep").toString
    (keep ++ gone).toDF().write.parquet(s"$dirAll/documents.parquet")
    keep.toDF().write.parquet(s"$dirKeep/documents.parquet")
    val sk = java.nio.file.Files.createTempDirectory("cmsDsk")
      .toString + "/sketch"
    TextAnalysis.writeCmsSketch(spark, dirAll, sk)
    TextAnalysis.subtractFromCmsSketch(spark, sk, gone.toDF())
    val want = java.nio.file.Files.createTempDirectory("cmsDw")
      .toString + "/sketch"
    TextAnalysis.writeCmsSketch(spark, dirKeep, want)
    def cells(dir: String) = spark.read.parquet(dir)
      .as[(Int, Int, Long)].collect().toSet
    assert(cells(sk) == cells(want),
      "subtraction must equal the survivors' fresh sketch (linearity)")
    // the erasure was non-vacuous: the full sketch differs
    val full = java.nio.file.Files.createTempDirectory("cmsDf")
      .toString + "/sketch"
    TextAnalysis.writeCmsSketch(spark, dirAll, full)
    assert(cells(full) != cells(want), "fixture never exercised the subtraction")
    // subtract-then-re-merge round-trips (linearity both ways)
    TextAnalysis.mergeIntoCmsSketch(spark, sk, gone.toDF())
    assert(cells(sk) == cells(full), "re-merge must restore the full sketch")
  }
}
