package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The data-skipping contract: the manifest cut never changes the
  * answer (parity with the unclustered scan), and it actually SKIPS —
  * a z-ordered layout prunes files on user-only, ts-only, and combined
  * boxes, while a linear (user, ts)-sorted layout cannot prune a
  * ts-only box (every file spans the full ts range of its user slice).
  */
class ClusteredLayoutSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def events = {
    import spark.implicits._
    graft.Tables.events(spark, sf).select($"event_id", $"user_id",
      $"event_type", $"value", expr("unix_micros(ts) div 1000").as("ts_ms"))
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] = {
    import spark.implicits._
    df.select($"event_id").as[Long].collect().toSet
  }

  // the full (user, ts) envelope of the fixture, for one-sided boxes
  private lazy val env = {
    import spark.implicits._
    events.agg(min($"user_id"), max($"user_id"), min($"ts_ms"), max($"ts_ms"))
      .as[(Long, Long, Long, Long)].head()
  }

  private def buildZ(): String = {
    val dir = java.nio.file.Files.createTempDirectory("zlay").toString + "/z"
    ClusteredLayout.writeClustered(events, dir, "user_id", "ts_ms")
    dir
  }

  test("box scan parity with the unclustered filter (exactness)") {
    val dir = buildZ()
    val got = ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs))
    val want = ids(events.filter(
      col("user_id").between(ClusteredLayout.BoxUsers._1, ClusteredLayout.BoxUsers._2) &&
      col("ts_ms").between(ClusteredLayout.BoxTsMs._1, ClusteredLayout.BoxTsMs._2)))
    assert(want.nonEmpty && got == want)
  }

  test("z layout skips files on combined, user-only, AND ts-only boxes") {
    val dir = buildZ()
    val (mnU, mxU, mnT, mxT) = env
    val (kBoth, total) = ClusteredLayout.selectFiles(spark, dir,
      ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs)
    val (kUser, _) = ClusteredLayout.selectFiles(spark, dir,
      ClusteredLayout.BoxUsers, (mnT, mxT))
    val (kTs, _) = ClusteredLayout.selectFiles(spark, dir,
      (mnU, mxU), ClusteredLayout.BoxTsMs)
    assert(total == ClusteredLayout.LayoutFiles)
    assert(kBoth.size < kUser.size && kBoth.size < kTs.size,
      s"combined box should cut deeper: both=${kBoth.size} user=${kUser.size} ts=${kTs.size}")
    assert(kUser.size < total, s"user-only box did not skip: ${kUser.size}/$total")
    assert(kTs.size < total, s"ts-only box did not skip: ${kTs.size}/$total")
  }

  test("linear user-sorted layout cannot skip a ts-only box (the contrast)") {
    val dir = java.nio.file.Files.createTempDirectory("llay").toString + "/l"
    ClusteredLayout.writeClustered(events, dir, "user_id", "ts_ms", zorder = false)
    val (mnU, mxU, _, _) = env
    val (kTs, total) = ClusteredLayout.selectFiles(spark, dir,
      (mnU, mxU), ClusteredLayout.BoxTsMs)
    assert(kTs.size == total,
      s"a user-leading sort should span ts in every file: ${kTs.size}/$total")
    // while its leading column still prunes
    val (kUser, _) = ClusteredLayout.selectFiles(spark, dir,
      ClusteredLayout.BoxUsers, (Long.MinValue, Long.MaxValue))
    assert(kUser.size < total)
    // and the answer is layout-invariant
    assert(ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
        ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs)) ==
      ids(ClusteredLayout.scanBox(spark, buildZ(), "user_id", "ts_ms",
        ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs)))
  }

  test("disjoint box returns empty without opening data files") {
    val dir = buildZ()
    val (kept, _) = ClusteredLayout.selectFiles(spark, dir,
      (-100L, -50L), ClusteredLayout.BoxTsMs)
    assert(kept.isEmpty)
    assert(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      (-100L, -50L), ClusteredLayout.BoxTsMs).isEmpty)
  }

  test("append: box answers include the batch; manifest covers the new files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("alay").toString + "/a"
    val (old, batch) = (events.filter($"event_id" % 5 =!= 0),
      events.filter($"event_id" % 5 === 0))
    ClusteredLayout.writeClustered(old, dir, "user_id", "ts_ms")
    ClusteredLayout.appendToLayout(batch, dir, "user_id", "ts_ms")
    val got = ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs))
    val want = ids(events.filter(
      col("user_id").between(ClusteredLayout.BoxUsers._1, ClusteredLayout.BoxUsers._2) &&
      col("ts_ms").between(ClusteredLayout.BoxTsMs._1, ClusteredLayout.BoxTsMs._2)))
    assert(got == want)
    // manifest row count = build files + append files; still skips
    val (kept, total) = ClusteredLayout.selectFiles(spark, dir,
      ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs)
    assert(total == ClusteredLayout.LayoutFiles + 4)
    assert(kept.size < total)
  }

  test("repair rebuilds the manifest equal to what the writers left") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rlay").toString + "/r"
    ClusteredLayout.writeClustered(events, dir, "user_id", "ts_ms")
    ClusteredLayout.appendToLayout(events.limit(500), dir, "user_id", "ts_ms")
    val before = spark.read.parquet(s"$dir/_graft_manifest")
      .orderBy("file").collect().toSeq
    ClusteredLayout.repairLayout(spark, dir, "user_id", "ts_ms")
    val after = spark.read.parquet(s"$dir/_graft_manifest")
      .orderBy("file").collect().toSeq
    assert(after == before)
  }

  test("compaction restores the single-layout file count, answers unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clay").toString + "/c"
    ClusteredLayout.writeClustered(events.filter($"event_id" % 2 === 0),
      dir, "user_id", "ts_ms")
    ClusteredLayout.appendToLayout(events.filter($"event_id" % 2 === 1),
      dir, "user_id", "ts_ms")
    val before = ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs))
    ClusteredLayout.compactLayout(spark, dir, "user_id", "ts_ms")
    val (_, total) = ClusteredLayout.selectFiles(spark, dir,
      ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs)
    assert(total == ClusteredLayout.LayoutFiles)
    assert(ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs)) == before)
    assert(spark.read.parquet(dir).count() == events.count())
  }

  test("streamed ingest: two micro-batches answer like the batch layout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("slay").toString + "/s"
    val rows = events.select($"event_id", $"user_id", $"ts_ms")
      .as[(Long, Long, Long)].collect().toSeq
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.MicroBatch.start(
      mem.toDF().toDF("event_id", "user_id", "ts_ms").writeStream)(b =>
      ClusteredLayout.appendToLayout(b, dir, "user_id", "ts_ms"))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val got = ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs))
    val want = ids(events.filter(
      col("user_id").between(ClusteredLayout.BoxUsers._1, ClusteredLayout.BoxUsers._2) &&
      col("ts_ms").between(ClusteredLayout.BoxTsMs._1, ClusteredLayout.BoxTsMs._2)))
    assert(got == want)
    // and compaction over the streamed layout behaves like the batch one
    ClusteredLayout.compactLayout(spark, dir, "user_id", "ts_ms")
    assert(ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      ClusteredLayout.BoxUsers, ClusteredLayout.BoxTsMs)) == want)
  }

  test("bloom lookup: parity, file skipping, and append-uncovered safety") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("blay").toString + "/b"
    ClusteredLayout.writeClustered(events.filter($"event_id" % 4 =!= 0),
      dir, "user_id", "ts_ms")
    ClusteredLayout.buildBloomSidecar(spark, dir, "event_id")
    // present keys: parity with the raw filter, and files skipped
    val keys = Seq(11L, 257L, 901L)
    val got = ids(ClusteredLayout.lookupByKey(spark, dir, "event_id", keys))
    assert(got == keys.filter(_ % 4 != 0).toSet)
    val (kept, total) = ClusteredLayout.selectFilesByKey(spark, dir, keys)
    assert(kept.size < total, s"bloom cut kept ${kept.size}/$total")
    // absent key: ≤ fpp·total files opened, zero rows
    val (keptAbs, _) = ClusteredLayout.selectFilesByKey(spark, dir,
      Seq(987654321L))
    assert(keptAbs.size <= math.max(2, (total * 0.05).toInt))
    assert(ClusteredLayout.lookupByKey(spark, dir, "event_id",
      Seq(987654321L)).isEmpty)
    // appended files are NOT in the sidecar → always scanned, so a
    // key that only exists in the append is still found
    ClusteredLayout.appendToLayout(events.filter($"event_id" % 4 === 0),
      dir, "user_id", "ts_ms")
    val gotAll = ids(ClusteredLayout.lookupByKey(spark, dir, "event_id",
      Seq(12L, 257L)))
    assert(gotAll == Set(12L, 257L))
    // rebuilding the sidecar restores full-coverage skipping
    ClusteredLayout.buildBloomSidecar(spark, dir, "event_id")
    val (kept2, total2) = ClusteredLayout.selectFilesByKey(spark, dir,
      Seq(12L, 257L))
    assert(total2 == total + 4 && kept2.size < total2)
    assert(ids(ClusteredLayout.lookupByKey(spark, dir, "event_id",
      Seq(12L, 257L))) == Set(12L, 257L))
  }

  test("compaction rebuilds the bloom sidecar; no sidecar degrades to full scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clay").toString + "/c"
    ClusteredLayout.writeClustered(events, dir, "user_id", "ts_ms")
    // never built → every manifest file scanned, lookups still exact
    val keys = Seq(11L, 257L, 901L)
    val (keptNone, totalNone) = ClusteredLayout.selectFilesByKey(spark, dir, keys)
    assert(keptNone.size == totalNone, "missing sidecar must mean zero coverage")
    assert(ids(ClusteredLayout.lookupByKey(spark, dir, "event_id", keys)) ==
      keys.toSet)
    // built, then compacted: the rewrite swaps the whole dir — the
    // sidecar must come back (rebuilt over the same key), still skipping
    ClusteredLayout.buildBloomSidecar(spark, dir, "event_id")
    ClusteredLayout.compactLayout(spark, dir, "user_id", "ts_ms")
    val (kept, total) = ClusteredLayout.selectFilesByKey(spark, dir, keys)
    assert(kept.size < total, s"post-compaction bloom cut kept ${kept.size}/$total")
    assert(ids(ClusteredLayout.lookupByKey(spark, dir, "event_id", keys)) ==
      keys.toSet)
    assert(spark.read.parquet(s"$dir/_graft_blooms")
      .select($"key_col").distinct().as[String].collect().toSeq == Seq("event_id"))
    // sidecar-free compaction stays sidecar-free (and keeps degrading)
    val dir2 = java.nio.file.Files.createTempDirectory("clay2").toString + "/c"
    ClusteredLayout.writeClustered(events, dir2, "user_id", "ts_ms")
    ClusteredLayout.compactLayout(spark, dir2, "user_id", "ts_ms")
    val (kept2, total2) = ClusteredLayout.selectFilesByKey(spark, dir2, keys)
    assert(kept2.size == total2)
    assert(ids(ClusteredLayout.lookupByKey(spark, dir2, "event_id", keys)) ==
      keys.toSet)
  }

  test("manifest rows cover every data file and all rows") {
    import spark.implicits._
    val dir = buildZ()
    val m = spark.read.parquet(s"$dir/_graft_manifest")
    val dataFiles = spark.read.parquet(dir)
      .select(element_at(split(col("_metadata.file_path"), "/"), -1))
      .distinct().as[String].collect().toSet
    assert(m.select($"file").as[String].collect().toSet == dataFiles)
    assert(m.agg(sum($"rows")).as[Long].head() == events.count())
  }

  test("takedown: deleted keys stop answering on both access paths; others unchanged") {
    import spark.implicits._
    val dir = buildZ()
    ClusteredLayout.buildBloomSidecar(spark, dir, "event_id")
    val fullBox = ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      (env._1, env._2), (env._3, env._4)))
    val victimUser = events.filter($"event_id" === 11L)
      .select($"user_id").as[Long].head()
    val victimRows = ids(events.filter($"user_id" === victimUser))
    ClusteredLayout.deleteFromLayout(spark, dir, "event_id", Seq(257L))
    ClusteredLayout.deleteFromLayout(spark, dir, "user_id", Seq(victimUser))
    // bloom lookup: the deleted event id and the erased user's events
    // vanish; the surviving lookup id still answers
    val got = ids(ClusteredLayout.lookupByKey(spark, dir, "event_id",
      Seq(11L, 257L, 901L)))
    assert(!got.contains(257L), "tombstoned event id must stop answering")
    assert(!got.contains(11L), "the erased user's events must stop answering")
    assert(got.contains(901L), "surviving keys must keep answering")
    // box scan: same masking, everything else unchanged
    val box = ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      (env._1, env._2), (env._3, env._4)))
    assert(box == fullBox -- victimRows - 257L,
      "box scan must equal the full scan minus exactly the tombstoned rows")
  }

  test("takedown: append after delete stays masked; compaction purges physically") {
    import spark.implicits._
    val dir = buildZ()
    ClusteredLayout.buildBloomSidecar(spark, dir, "event_id")
    val victimUser = events.filter($"event_id" === 11L)
      .select($"user_id").as[Long].head()
    ClusteredLayout.deleteFromLayout(spark, dir, "user_id", Seq(victimUser))
    // a post-delete append carrying the erased user: the batch's OTHER
    // rows are visible (bloom-uncovered → always scanned), the erased
    // user's stay masked until compaction retires the tombstone
    val batch = Seq(
        (9000001L, victimUser, "late", 1.0, 1704844800000L),
        (9000002L, victimUser + 1, "late", 1.0, 1704844800000L))
      .toDF("event_id", "user_id", "event_type", "value", "ts_ms")
      .select(events.columns.map(c =>
        col(c).cast(events.schema(c).dataType)).toIndexedSeq: _*)
    ClusteredLayout.appendToLayout(batch, dir, "user_id", "ts_ms")
    val got = ids(ClusteredLayout.lookupByKey(spark, dir, "event_id",
      Seq(9000001L, 9000002L)))
    assert(got == Set(9000002L),
      s"appended rows of an erased user must stay masked: $got")
    val preCompact = ids(ClusteredLayout.scanBox(spark, dir,
      "user_id", "ts_ms", (env._1, env._2 + 10), (env._3, env._4)))
    ClusteredLayout.compactLayout(spark, dir, "user_id", "ts_ms")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_tombstones")), "compaction retires the tombstones")
    // physically purged: the RAW directory read no longer carries the
    // erased rows, and answers are unchanged
    assert(spark.read.parquet(dir)
      .filter($"user_id" === victimUser).count() == 0,
      "compaction must purge tombstoned rows from the files")
    assert(ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      (env._1, env._2 + 10), (env._3, env._4))) == preCompact,
      "compaction must not change any probe answer")
    // the rebuilt bloom serves the survivors; re-ingest after
    // compaction is visible again (the re-append contract)
    assert(ClusteredLayout.lookupByKey(spark, dir, "event_id",
      Seq(9000001L)).count() == 0)
    ClusteredLayout.appendToLayout(batch.filter($"event_id" === 9000001L),
      dir, "user_id", "ts_ms")
    assert(ids(ClusteredLayout.lookupByKey(spark, dir, "event_id",
      Seq(9000001L))) == Set(9000001L),
      "a key re-ingested after compaction answers again")
    // crash idempotence: tombstones re-applied over already-purged
    // rows are a no-op for every surviving row
    ClusteredLayout.deleteFromLayout(spark, dir, "event_id", Seq(9000001L))
    ClusteredLayout.deleteFromLayout(spark, dir, "event_id", Seq(9000001L))
    assert(ClusteredLayout.lookupByKey(spark, dir, "event_id",
      Seq(9000001L)).count() == 0)
    ClusteredLayout.compactLayout(spark, dir, "user_id", "ts_ms")
    assert(ClusteredLayout.lookupByKey(spark, dir, "event_id",
      Seq(9000001L)).count() == 0)
    assert(ids(ClusteredLayout.scanBox(spark, dir, "user_id", "ts_ms",
      (env._1, env._2 + 10), (env._3, env._4))) == preCompact,
      "double-delete + compact must leave every surviving row intact")
  }
}
