package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Ingest-time media row for [[MediaStream]] tests. */
case class IngestMedia(media_id: Long, payload: Array[Byte],
    media_type: String, ingest_ts: Timestamp)

/** [[MediaStream.curateStream]] — batch parity with the declared
  * `pipe_media_curate` on signature-exact duplicate clusters, the
  * cross-batch bounded-state drop, the historical-keys anti-join, and
  * the STATED near-dup gap (cross-signature members stay a batch
  * responsibility).
  */
class MediaStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(min: Long): Timestamp = new Timestamp((1440 + min) * 60000L)

  /** Distinct-topic text ≥ 64 bytes: unrelated seeds sign far below
    * the 0.85 verify threshold (the MediaCosineThreshold scaladoc's
    * measured 0.48 median for unrelated content).
    */
  private def topicText(seed: Int, n: Int = 30): String =
    (0 until n).map { i =>
      val a = ('a' + (seed * 11 + i * 3) % 26).toChar
      val b = ('a' + (seed * 5 + i * 7) % 26).toChar
      s"$a$b" + ('a' + (seed * 13 + i) % 26).toChar.toString * 4
    }.mkString(" ")

  private def media(id: Long, text: String, min: Long): IngestMedia =
    IngestMedia(id, text.getBytes("UTF-8"), "fake/text-as-image", ts(min))

  test("two-batch replay equals batch pipe_media_curate on signature-exact clusters") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val tA = topicText(1)          // 3 exact copies: 1, 2, 9 (9 in batch 2)
    val tB = topicText(2)          // singleton, survives
    val tShort = "tiny words here" // < 64 bytes: 2 exact copies, 5 and 6 —
                                   // the rep shadows, then gates out
    assert(tShort.getBytes("UTF-8").length < Multimodal.CurateMinBytes)
    val tC = topicText(3)          // singleton, survives

    val rows = Seq(
      media(1L, tA, 0), media(2L, tA, 1),
      media(3L, tB, 2),
      media(5L, tShort, 3), media(6L, tShort, 4),
      media(7L, tC, 5),
      media(9L, tA, 6) // cross-batch duplicate of 1
    )

    // the same corpus as a documents table for the batch query
    val dir = java.nio.file.Files.createTempDirectory("mediastream").toString
    rows.map(r => (r.media_id, new String(r.payload, "UTF-8")))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("spec").as("source"), length($"text").cast("long").as("n_chars"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val expected = Multimodal.queries("pipe_media_curate")(spark, dir)
      .select($"media_id", $"media_type", $"n_bytes")
      .as[(Long, String, Long)].collect().toSet
    assert(expected.map(_._1) == Set(1L, 3L, 7L),
      s"fixture expectation drifted: $expected")

    val mem = MemoryStream[IngestMedia]
    val q = MediaStream.curateStream(mem.toDF(), Multimodal.FakeDecoder)
      .writeStream.format("memory").queryName("media_curated")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = rows.splitAt(5)
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("media_curated")
        .select($"media_id", $"media_type", $"n_bytes")
        .as[(Long, String, Long)].collect().toSet
      assert(got == expected, s"stream $got != batch $expected")
    } finally q.stop()
  }

  test("historical keys drop re-ingested signature-equal content") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val known = topicText(10)
    val fresh = topicText(11)
    val hist = MediaStream.signatureKeys(
      Seq((100L, known.getBytes("UTF-8"))).toDF("media_id", "payload"),
      Multimodal.FakeDecoder)

    val mem = MemoryStream[IngestMedia]
    val q = MediaStream.curateStream(mem.toDF(), Multimodal.FakeDecoder,
        historicalKeys = Some(hist))
      .writeStream.format("memory").queryName("media_keep")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(media(1L, known, 0), media(2L, fresh, 1))
      q.processAllAvailable()
      val got = spark.table("media_keep").select($"media_id").as[Long]
        .collect().toSet
      assert(got == Set(2L), s"got $got")
    } finally q.stop()
  }

  test("stated gap: cross-signature near-dups stay a batch responsibility") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // one altered word (all words distinct, so exactly one occurrence
    // changes) → signatures differ but cosine stays ≥ the verify
    // threshold: the batch collapse drops the non-rep member, the
    // stream keeps both (the documented contract)
    val ws = (0 until 60).map(i => s"tok${i}word")
    val base = ws.mkString(" ")
    val altered = ws.updated(30, "zzzzzz").mkString(" ")
    assert(base != altered)

    val dir = java.nio.file.Files.createTempDirectory("mediagap").toString
    Seq((1L, base), (2L, altered)).toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("spec").as("source"), length($"text").cast("long").as("n_chars"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val batchKept = Multimodal.queries("pipe_media_curate")(spark, dir)
      .select($"media_id").as[Long].collect().toSet
    assert(batchKept == Set(1L),
      s"fixture must form a near-dup pair; batch kept $batchKept")

    val mem = MemoryStream[IngestMedia]
    val q = MediaStream.curateStream(mem.toDF(), Multimodal.FakeDecoder)
      .writeStream.format("memory").queryName("media_gap")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(media(1L, base, 0), media(2L, altered, 1))
      q.processAllAvailable()
      val got = spark.table("media_gap").select($"media_id").as[Long]
        .collect().toSet
      assert(got == Set(1L, 2L),
        s"stream must keep both near-dups (the stated gap), got $got")
    } finally q.stop()
  }

  test("phashDeleteStream: streamed media takedowns vanish from the next probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val a = (0 until 60).map(i => s"alpha$i beta${i * 3} gm$i").mkString(" ")
    val b = (0 until 60).map(i => s"delta$i zeta${i * 5} qq$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("phdelstream").toString
    Seq((1L, a), (2L, a), (3L, b), (10L, a), (20L, b))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("spec").as("source"), length($"text").cast("long").as("n_chars"))
      .write.parquet(s"$tmp/documents.parquet")
    val dir = s"$tmp/idx"
    Multimodal.writePhashIndex(spark, tmp, dir, col("media_id") % 10 =!= 0)
    def pairs(): Set[(Long, Long)] =
      Multimodal.incrementalPhashPairs(spark, tmp, dir)
        .select($"new_id", $"old_id").as[(Long, Long)].collect().toSet
    assert(pairs().exists(_._2 == 3L), "fixture must pair with media 3")
    val mem = MemoryStream[Long]
    val q = MicroBatch.start(mem.toDF().writeStream)(b =>
      Multimodal.deleteFromPhashIndex(b.sparkSession, dir, b))
    try {
      mem.addData(3L)
      q.processAllAvailable()
      mem.addData(1L)
      q.processAllAvailable()
    } finally q.stop()
    val after = pairs()
    assert(!after.exists(p => p._2 == 3L || p._2 == 1L),
      s"deleted media still answer: $after")
    assert(after.contains((10L, 2L)),
      "the surviving carrier must still answer")
  }

  test("streamed curation on REAL JDK decoders: the golden corpus through curateStream") {
    // the r16 verdict's stretch follow-up: MediaGoldenSpec pins the
    // BATCH composed pipeline on real decoders; this runs the same
    // golden corpus through the STREAMED path, so its parity claims
    // also rest on real decoders, not only FakeDecoder. Expected:
    // PNG≡BMP collapse to one survivor (cross-container signature
    // key), the near-dup stays (the stated gap), the undecodable
    // survives under its unique key, the tiny payload dies at the
    // size gate.
    assume(Multimodal.JdkImageDecoder.available)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def img(w: Int, h: Int, fmt: String)(lum: (Int, Int) => Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          val g = lum(x, y) & 0xff
          im.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, out)
      out.toByteArray
    }
    def p1(x: Int, y: Int): Int = (x * 3 + y * 7) % 251
    val rows = Seq(
      IngestMedia(1L, img(64, 64, "png")(p1), "image/png", ts(0)),
      IngestMedia(2L, img(64, 64, "bmp")(p1), "image/bmp", ts(1)),
      IngestMedia(3L, img(64, 64, "png")((x, y) =>
        if (y >= 60) (x * 11) % 241 else p1(x, y)), "image/png", ts(2)),
      IngestMedia(4L, img(64, 64, "png")((x, y) =>
        (x * x + 5 * y) % 239), "image/png", ts(3)),
      IngestMedia(5L, ("not an image at all " * 5).getBytes("UTF-8"),
        "text/plain", ts(4)),
      IngestMedia(7L, Array.fill[Byte](8)(1), "image/png", ts(5)))
    val mem = MemoryStream[IngestMedia]
    val q = MediaStream.curateStream(mem.toDF(), Multimodal.JdkImageDecoder)
      .writeStream.format("memory").queryName("media_golden_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("media_golden_stream")
      .select($"media_id").as[Long].collect().toSet
    assert((got & Set(1L, 2L)).size == 1,
      s"exactly one of the PNG≡BMP exact-dup pair must survive: $got")
    assert(got.contains(3L),
      s"the cross-signature near-dup stays (the stated gap): $got")
    assert(got.contains(4L) && got.contains(5L),
      s"unrelated content and ≥64-byte undecodables survive: $got")
    assert(!got.contains(7L),
      s"the under-size payload must die at the gate: $got")
  }

  test("phashGroupsDeleteStream: streamed takedowns re-elect reps on the collapsed index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val a = (0 until 60).map(i => s"alpha$i beta${i * 3} gm$i").mkString(" ")
    val b = (0 until 60).map(i => s"delta$i zeta${i * 5} qq$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("phgdelstream").toString
    Seq((1L, a), (2L, a), (3L, b), (10L, a), (20L, b))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("spec").as("source"), length($"text").cast("long").as("n_chars"))
      .write.parquet(s"$tmp/documents.parquet")
    val dir = s"$tmp/gidx"
    Multimodal.writePhashGroupsIndex(spark, tmp, dir,
      col("media_id") % 10 =!= 0)
    def rows(): Set[(Long, Long, Int, Long, Long)] =
      Multimodal.incrementalPhashCollapsed(spark, tmp, dir)
        .as[(Long, Long, Int, Long, Long)].collect().toSet
    assert(rows().exists(r => r._2 == 1L && r._5 == 2L),
      "fixture: the shared hash answers as (rep 1, n 2)")
    val mem = MemoryStream[Long]
    val q = MicroBatch.start(mem.toDF().writeStream)(b =>
      Multimodal.deleteFromPhashGroupsIndex(b.sparkSession, dir, b))
    try {
      mem.addData(1L) // the stored rep: forces re-election
      q.processAllAvailable()
      mem.addData(3L) // sole carrier of hash B: its group vanishes
      q.processAllAvailable()
    } finally q.stop()
    val after = rows()
    assert(after.exists(r => r._2 == 2L && r._5 == 1L),
      s"streamed delete must re-elect the surviving rep: $after")
    assert(!after.exists(r => r._2 == 1L || r._2 == 3L),
      s"deleted media must not be named as representatives: $after")
  }
}
