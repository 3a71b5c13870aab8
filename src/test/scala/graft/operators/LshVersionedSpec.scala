package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.StoredRoot

/** The versioned index root's manifest-pointer cutover (r17 verdict
  * item 5), [[graft.sources.StoredRoot.cut]] over each family's
  * compaction fold: probes resolve `_graft_current` once and read an
  * immutable version directory, compaction builds a new version and
  * repoints atomically — so a reader concurrent with compaction never
  * sees the missing-directory instant of the in-place
  * [[graft.sources.StoredRoot.replace]] swap. Pinned here by actually
  * racing a probe loop against repeated compactions, on both the LSH
  * and the IVF folds.
  */
class LshVersionedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def probe(root: String): Set[(Long, Long)] = {
    import spark.implicits._
    Similarity.topkLshStored(spark, sf, StoredRoot.resolve(spark, root))
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
  }

  /** Versioned compaction: the shared LSH fold cut into a new version. */
  private def compactLsh(root: String): Unit =
    StoredRoot.cut(spark, root)(
      Similarity.compactLshInto(spark, StoredRoot.resolve(spark, root), _))

  test("versioned build/compact/delete answer exactly like the plain stored index") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lshver").toString
    val root = s"$tmp/root"
    StoredRoot.cut(spark, root)(Similarity.writeLshIndex(spark, sf, _))
    val plain = s"$tmp/plain"
    Similarity.writeLshIndex(spark, sf, plain)
    val expected = Similarity.topkLshStored(spark, sf, plain)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    assert(probe(root) == expected, "versioned probe must equal the stored one")

    // compaction changes WHICH directory serves, never what it answers
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions(): Set[String] = fs.listStatus(
        new org.apache.hadoop.fs.Path(root))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v_"))
      .map(_.getPath.getName).toSet
    val v0 = versions()
    compactLsh(root)
    assert(probe(root) == expected, "compaction must not change answers")
    assert(versions() != v0 || versions().size > 1,
      "compaction must have produced a new version")
    // tombstones apply to the live version and survive the cutover
    // physically purged (the compact rewrite folds them)
    val someVec = expected.head._2
    Similarity.deleteFromIndex(spark, StoredRoot.resolve(spark, root),
      Seq(someVec).toDF("vec_id"))
    val afterDel = probe(root)
    assert(!afterDel.exists(_._2 == someVec),
      "a tombstoned vector must stop answering on the live version")
    compactLsh(root)
    assert(probe(root) == afterDel,
      "compacting the tombstones must not change answers")
    // retention horizon: repeated compactions keep live + 2 retired
    compactLsh(root)
    compactLsh(root)
    assert(versions().size <= 3,
      s"retention must bound version count: ${versions()}")
  }

  test("probes race concurrent compactions with zero failures and stable answers") {
    val tmp = java.nio.file.Files.createTempDirectory("lshverrace").toString
    val root = s"$tmp/root"
    StoredRoot.cut(spark, root)(Similarity.writeLshIndex(spark, sf, _))
    val expected = probe(root)
    assert(expected.nonEmpty)
    @volatile var failure: Option[Throwable] = None
    @volatile var reads = 0
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = probe(root)
          if (got != expected)
            throw new AssertionError(
              s"concurrent probe diverged: ${(got diff expected).take(3)}")
          reads += 1
        }
      } catch { case t: Throwable => failure = Some(t) }
    }, "lsh-versioned-reader")
    reader.start()
    try {
      // three full compaction cutovers while the reader loops — under
      // the in-place swap this window transiently 404s the directory;
      // under the versioned root every resolve serves a live snapshot
      for (_ <- 0 until 3) compactLsh(root)
    } finally {
      stop.set(true)
      reader.join(120000)
    }
    assert(failure.isEmpty,
      s"concurrent reader failed: ${failure.map(_.toString).getOrElse("")}")
    assert(reads >= 1, "the race must have exercised at least one read")
    assert(probe(root) == expected)
  }

  private def probeIvf(root: String): Set[(Long, Long)] = {
    import spark.implicits._
    Similarity.topkIvfStored(spark, sf, StoredRoot.resolve(spark, root))
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
  }

  /** Versioned compaction: the shared IVF fold cut into a new version. */
  private def compactIvf(root: String): Unit =
    StoredRoot.cut(spark, root)(
      Similarity.compactIvfInto(spark, StoredRoot.resolve(spark, root), _))

  test("IVF instantiation: versioned build/compact/delete equal the plain stored index") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ivfver").toString
    val root = s"$tmp/root"
    StoredRoot.cut(spark, root)(Similarity.writeIvfIndex(spark, sf, _))
    val plain = s"$tmp/plain"
    Similarity.writeIvfIndex(spark, sf, plain)
    val expected = Similarity.topkIvfStored(spark, sf, plain)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    assert(probeIvf(root) == expected)
    compactIvf(root)
    assert(probeIvf(root) == expected, "cutover compaction must not change answers")
    // the shared tombstone mechanism routes to the live version, and
    // the next cutover folds it physically WITH occupancy refreshed
    // in the same atomic flip
    val someVec = expected.head._2
    Similarity.deleteFromIndex(spark, StoredRoot.resolve(spark, root),
      Seq(someVec).toDF("vec_id"))
    val afterDel = probeIvf(root)
    assert(!afterDel.exists(_._2 == someVec))
    compactIvf(root)
    assert(probeIvf(root) == afterDel)
    val live = StoredRoot.resolve(spark, root)
    assert(spark.read.parquet(s"$live/assignments")
      .filter($"vec_id" === someVec).count() == 0,
      "the cutover compaction must purge tombstoned rows physically")
    // occupancy equals the folded row counts — the pair the in-place
    // compactor exposes out of step mid-maintenance
    val occ = spark.read.parquet(s"$live/centroids")
      .select($"cell", $"occupancy").as[(Long, Long)].collect().toMap
    val rows = spark.read.parquet(s"$live/assignments")
      .groupBy($"cell").count().as[(Long, Long)].collect().toMap
    assert(rows.forall { case (c, n) => occ.getOrElse(c, 0L) == n },
      s"occupancy out of step with folded assignments: $occ vs $rows")
  }

  test("IVF probes race concurrent cutover compactions") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfverrace").toString
    val root = s"$tmp/root"
    StoredRoot.cut(spark, root)(Similarity.writeIvfIndex(spark, sf, _))
    val expected = probeIvf(root)
    assert(expected.nonEmpty)
    @volatile var failure: Option[Throwable] = None
    @volatile var reads = 0
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = probeIvf(root)
          if (got != expected)
            throw new AssertionError(
              s"concurrent IVF probe diverged: ${(got diff expected).take(3)}")
          reads += 1
        }
      } catch { case t: Throwable => failure = Some(t) }
    }, "ivf-versioned-reader")
    reader.start()
    try {
      for (_ <- 0 until 3) compactIvf(root)
    } finally {
      stop.set(true)
      reader.join(120000)
    }
    assert(failure.isEmpty,
      s"concurrent reader failed: ${failure.map(_.toString).getOrElse("")}")
    assert(reads >= 1)
    assert(probeIvf(root) == expected)
  }

  test("retention counts only full version names and sweeps only stale staging dirs") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("verretain").resolve("root")
    // retention orders dirs by mtime; back-to-back cutovers can share
    // one fs timestamp tick, so each dir gets its own second
    var clock = System.currentTimeMillis() - 600000
    def stamp(dir: java.nio.file.Path): Unit = {
      clock += 1000
      Files.setLastModifiedTime(dir,
        java.nio.file.attribute.FileTime.fromMillis(clock))
    }
    def cut(): String = {
      val dir = StoredRoot.cut(spark, root.toString)(v =>
        stamp(Files.createDirectories(java.nio.file.Paths.get(v))))
      java.nio.file.Paths.get(dir).getFileName.toString
    }
    def staging(name: String): java.nio.file.Path = {
      val dir = root.resolve(name)
      Files.createDirectories(dir)
      Files.write(dir.resolve("part-0"), Array[Byte](1))
      stamp(dir)
      dir
    }
    // a crashed builder's leftover, older than every version to come
    val stale = staging("v_0123456789ab_staging")
    val first = (1 to 3).map(_ => cut())
    assert(!Files.exists(stale),
      "a staging dir older than every kept version must be swept")
    // a builder still staging: newer than the oldest kept version
    val fresh = staging("v_ba9876543210_staging")
    val last = cut()
    assert(StoredRoot.resolve(spark, root.toString) ==
      s"$root/$last")
    val dirs = Files.list(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(dirs == first.drop(1).toSet + last + fresh.getFileName.toString,
      "live + 2 retired versions and the fresh staging dir must remain")
    assert(Files.exists(fresh.resolve("part-0")))
  }
}
