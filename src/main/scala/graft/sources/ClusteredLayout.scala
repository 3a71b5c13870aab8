package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Similarity

/** Z-order-clustered parquet layout with a per-file min/max manifest —
  * manifest-based DATA SKIPPING, the Delta/Iceberg/Hudi scan
  * optimization, built from plain parquet + a hidden sidecar. At
  * 100 TB the dominant cost of any selective query is the files it
  * has to OPEN; directory partitioning only prunes one column and
  * explodes into small files past a few thousand values. Clustering
  * sorts rows by the Morton (Z-order) interleave of two columns'
  * normalized ranks, so every file covers a small RECTANGLE of the
  * (c1, c2) value space, and a box predicate on EITHER or BOTH
  * columns skips most files by consulting a manifest of per-file
  * min/max stats — file-count-sized, read on the driver, exactly the
  * Iceberg manifest / Delta checkpoint-stats mechanism.
  *
  * Layout under one parquet root (readable as a normal parquet dir —
  * the `_graft_manifest` child is underscore-hidden, the LSH planes-
  * sidecar mechanism):
  *
  *   dir/part-*.parquet        rows, z-sorted; row groups inherit the
  *                             clustering, so the residual predicate
  *                             ALSO prunes row groups inside kept files
  *   dir/_graft_manifest/      (file, min/max per clustered col, rows)
  *
  * The manifest is derived FROM the written files (`_metadata
  * .file_path` group-by), never from the writer's intent, so it cannot
  * desynchronize from the data; writes stage into a sibling and
  * promote via [[StoredRoot.replace]] (crash-safe). Pruning is
  * EXACT by construction: a file is kept iff its [min,max] interval
  * overlaps the query box on every queried column, and the residual
  * predicate re-applies the box to the kept rows — a wrong manifest
  * could only over-read, never drop a matching row, and the parity
  * spec pins even that against the unclustered scan.
  *
  * Normalization for the Morton code is linear min-max to 16 bits per
  * dimension (the corpus min/max from one aggregate). On heavily
  * skewed columns linear scaling concentrates rows in few cells —
  * the deployment upgrade is rank-based (quantile) normalization;
  * pruning EXACTNESS never depends on it, only skip ratios.
  *
  * Reference behavior: the reference pipeline has no layout surface;
  * design follows the published Delta data-skipping / Iceberg
  * manifest mechanism and Morton-order clustering.
  */
object ClusteredLayout {

  /** Target file count for a clustered write. At deployment this is
    * sized so files land near the parquet sweet spot (~128 MB-1 GB);
    * at bench SF it just needs enough files for skipping to measure.
    */
  val LayoutFiles = 64

  /** Spread a 16-bit value's bits to even positions (Morton half). */
  private def spread16(c: Column): Column = {
    val m1 = lit(0x00FF00FFL); val m2 = lit(0x0F0F0F0FL)
    val m3 = lit(0x33333333L); val m4 = lit(0x55555555L)
    val x0 = c.cast("long")
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(m1)
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(m2)
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(m3)
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(m4)
  }

  /** Linear min-max rank of `v` into [0, 65535] (constant columns →
    * 0 via the greatest() guard).
    */
  private def n16(v: Column, mn: Column, mx: Column): Column =
    least(greatest(floor((v - mn).cast("double") * 65535.0 /
      greatest((mx - mn).cast("double"), lit(1.0))), lit(0.0)), lit(65535.0))
      .cast("long")

  /** 32-bit Morton code of two 16-bit ranks. All builtins — the z
    * computation rides whole-stage codegen, no UDF.
    */
  private def zval(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Write `df` clustered on (c1, c2) — z-order when `zorder`, plain
    * lexicographic range clustering otherwise (the contrast case: a
    * linear sort prunes only its leading column) — and derive the
    * per-file manifest from what landed on disk.
    */
  def writeClustered(df: DataFrame, dir: String, c1: String, c2: String,
      files: Int = LayoutFiles, zorder: Boolean = true): Unit = {
    val s = df.sparkSession
    StoredRoot.replace(s, dir) { staging =>
      val cols = df.columns.map(col)
      val clustered =
        if (zorder) {
          val stats = df.agg(
            min(col(c1)).as("__mn1"), max(col(c1)).as("__mx1"),
            min(col(c2)).as("__mn2"), max(col(c2)).as("__mx2"))
          df.crossJoin(broadcast(stats))
            .withColumn("__z", zval(
              n16(col(c1), col("__mn1"), col("__mx1")),
              n16(col(c2), col("__mn2"), col("__mx2"))))
            .repartitionByRange(files, col("__z"))
            .sortWithinPartitions("__z")
            .select(cols.toIndexedSeq: _*)
        } else {
          df.repartitionByRange(files, col(c1), col(c2))
            .sortWithinPartitions(c1, c2)
        }
      clustered.write.parquet(staging)
      s.read.parquet(staging)
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(min(col(c1)).as("mn1"), max(col(c1)).as("mx1"),
          min(col(c2)).as("mn2"), max(col(c2)).as("mx2"),
          count(lit(1)).as("rows"))
        // rewrite to layout-relative names so the manifest survives the
        // staging→final rename (and any future dir move)
        .withColumn("file", element_at(split(col("file"), "/"), -1))
        .write.parquet(s"$staging/_graft_manifest")
    }
  }

  /** Append a batch to an existing layout: the batch is z-sorted
    * WITHIN ITSELF (its own min-max ranks — the build's normalization
    * constants are irrelevant to pruning, which reads only the raw
    * min/max manifest; batch-local ranks just keep the new files'
    * rectangles tight), staged as uniquely-named files inside a hidden
    * child, its manifest rows computed against the FINAL names, then
    * files are renamed into the root and the manifest rows appended.
    * Crash window: files renamed but manifest rows not yet appended →
    * those rows are INVISIBLE to [[scanBox]] (never wrong, never
    * partial-read) until [[repairLayout]] rebuilds the manifest from
    * what is actually on disk — the single-writer + repair discipline
    * of the ANN appends. Periodic [[compactLayout]] is the defrag
    * once appended files accumulate.
    */
  def appendToLayout(batch: DataFrame, dir: String,
      c1: String, c2: String, files: Int = 4): Unit = {
    val s = batch.sparkSession
    val stagingName = s"_graft_append_${java.util.UUID.randomUUID().toString.take(8)}"
    val staging = new org.apache.hadoop.fs.Path(s"$dir/$stagingName")
    val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
    val cols = batch.columns.map(col)
    val stats = batch.agg(
      min(col(c1)).as("__mn1"), max(col(c1)).as("__mx1"),
      min(col(c2)).as("__mn2"), max(col(c2)).as("__mx2"))
    batch.crossJoin(broadcast(stats))
      .withColumn("__z", zval(
        n16(col(c1), col("__mn1"), col("__mx1")),
        n16(col(c2), col("__mn2"), col("__mx2"))))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .select(cols.toIndexedSeq: _*)
      .write.parquet(staging.toString)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    // final names first, so the manifest rows are correct on arrival
    val parts = fs.listStatus(staging)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath)
    val renamed = parts.map { p =>
      // no leading underscore: that would HIDE the data file from
      // whole-dir reads (repair/compact) while the manifest still
      // serves it — the two paths must see the same files
      val fin = s"append${stagingName.stripPrefix("_graft_append")}-${p.getName}"
      require(fs.rename(p, new org.apache.hadoop.fs.Path(s"$dir/$fin")),
        s"append: could not promote $p")
      fin
    }.toSet
    val manifestRows = s.read
      .parquet(renamed.map(f => s"$dir/$f").toSeq: _*)
      .groupBy(element_at(split(col("_metadata.file_path"), "/"), -1).as("file"))
      .agg(min(col(c1)).as("mn1"), max(col(c1)).as("mx1"),
        min(col(c2)).as("mn2"), max(col(c2)).as("mx2"),
        count(lit(1)).as("rows"))
    manifestRows.write.mode("append").parquet(s"$dir/_graft_manifest")
    fs.delete(staging, true)
  }

  /** Rebuild the manifest from the files actually on disk — the
    * recovery op for a crash between an append's rename and its
    * manifest write, and the proof that the manifest is always
    * DERIVABLE state, never the source of truth.
    */
  def repairLayout(s: SparkSession, dir: String,
      c1: String, c2: String): Unit = {
    StoredRoot.replace(s, s"$dir/_graft_manifest") { staging =>
      s.read.parquet(dir)
        .groupBy(element_at(split(col("_metadata.file_path"), "/"), -1).as("file"))
        .agg(min(col(c1)).as("mn1"), max(col(c1)).as("mx1"),
          min(col(c2)).as("mn2"), max(col(c2)).as("mx2"),
          count(lit(1)).as("rows"))
        .write.parquet(staging)
    }
  }

  /** Re-cluster the whole layout (reads the current root minus any
    * tombstoned keys, rewrites it z-sorted through
    * [[StoredRoot.replace]]) — the periodic defrag that restores build-quality skip
    * ratios after appends, and the PHYSICAL purge half of the
    * takedown lifecycle: tombstoned rows are dropped from the
    * rewrite, the manifest and bloom sidecar are rebuilt over the
    * survivors (so the bloom stops even SUGGESTING files for deleted
    * keys), and the swap itself retires the tombstone sidecar (the
    * staging dir never contains one — the compactPairsDir
    * discipline). A crash before the swap leaves the old layout AND
    * its tombstones intact, so the scan-time anti-join stays correct
    * throughout.
    */
  def compactLayout(s: SparkSession, dir: String, c1: String, c2: String,
      files: Int = LayoutFiles): Unit = {
    // The rewrite's staging swap deletes the whole old dir, sidecar
    // included — capture the bloom key first and rebuild after, so
    // "compaction rebuilds full coverage" holds for the bloom index
    // too, not just the manifest. A compaction without a sidecar
    // stays sidecar-free (lookupByKey degrades to a full scan).
    import s.implicits._
    val bloomKey =
      if (!bloomSidecarExists(s, dir)) None
      else s.read.parquet(s"$dir/_graft_blooms")
        .select($"key_col").as[String].limit(1).collect().headOption
    writeClustered(minusLayoutTombstones(s, dir, s.read.parquet(dir)),
      dir, c1, c2, files)
    bloomKey.foreach(k => buildBloomSidecar(s, dir, k))
  }

  // ------------------------------------------------------------------
  // Takedown — the tombstone lifecycle on the clustered layout (the
  // stored-ANN deleteFromIndex convention, keyed by an ARBITRARY long
  // column): a GDPR user-erasure against a (user_id, ts)-clustered
  // events layout, or an event-id takedown through the bloom access
  // path, must stop ANSWERING from the next read while the multi-TB
  // z-sorted files stay untouched. Tombstones are (key_col, key)
  // rows in an underscore-hidden sidecar; every read path
  // ([[scanBox]], [[lookupByKey]], [[compactLayout]]'s rewrite)
  // anti-joins them, so the bloom sidecar answering membership for a
  // deleted key only ever costs I/O, never a wrong row. Contract:
  // a tombstone masks EVERY row carrying the key — including rows
  // appended after the delete — until [[compactLayout]] physically
  // purges and retires it; a key re-ingested AFTER compaction is
  // visible again (the CDC re-append convention). Single-writer
  // maintenance ops, like everything here.
  // ------------------------------------------------------------------

  private def tombstonesPath(dir: String): String =
    s"$dir/_graft_tombstones"

  /** Tombstone every row whose `keyCol` value is in `keys`: an
    * id-sized append, visible to the next read. `keyCol` may differ
    * per call (erase a user today, an event id tomorrow) — each
    * tombstone row carries its key column, and reads apply one
    * anti-join per distinct tombstoned column.
    */
  def deleteFromLayout(s: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long]): Unit = {
    import s.implicits._
    // validate the column BEFORE the tombstone lands: a typo'd name
    // would otherwise brick every read path — including the
    // compaction that could remove it — with an AnalysisException at
    // anti-join time (one footer read now beats a wedged layout)
    val layoutCols = s.read.parquet(dir).schema.fieldNames
    require(layoutCols.contains(keyCol),
      s"$dir has no column '$keyCol' to tombstone on " +
        s"(columns: ${layoutCols.mkString(", ")})")
    keys.map(k => (keyCol, k)).toDF("key_col", "key")
      .coalesce(1)
      .write.mode("append").parquet(tombstonesPath(dir))
  }

  /** The scan-time tombstone cut: one broadcast anti-join per
    * distinct tombstoned key column (the sidecar is takedown-sized,
    * so both the driver listing of its distinct columns and the
    * broadcast are bounded by deletes issued, never by the layout).
    * Absent tombstones cost one existence check and zero plan nodes.
    */
  private def minusLayoutTombstones(s: SparkSession, dir: String,
      rows: DataFrame): DataFrame = {
    import s.implicits._
    val p = new org.apache.hadoop.fs.Path(tombstonesPath(dir))
    if (!p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)) rows
    else {
      val ts = s.read.schema("key_col STRING, key BIGINT")
        .parquet(p.toString)
      val cols = ts.select($"key_col").distinct().as[String].collect().sorted
      cols.foldLeft(rows) { (acc, kc) =>
        acc.join(
          broadcast(ts.filter($"key_col" === kc)
            .select($"key".as(s"__ts_$kc"))),
          acc(kc).cast("long") === col(s"__ts_$kc"), "left_anti")
      }
    }
  }

  /** Per-file BLOOM sidecar — equality-lookup skipping for a column
    * the clustering does NOT cover (Delta's bloom index mechanism):
    * min/max manifests prune range boxes on the clustered columns;
    * a point lookup on an unrelated key (the takedown / "fetch this
    * id" shape) would open every file. One pass builds a bloom per
    * file over the key column; the lookup deserializes the
    * file-count-sized sidecar on the driver and opens only files
    * whose bloom might contain a probed key. False positives cost an
    * extra file read; false negatives are impossible (the sketch
    * contract), and files the sidecar does not cover (appended after
    * the build) are ALWAYS scanned — skipping degrades, correctness
    * never (compaction rebuilds full coverage). Long keys only;
    * hash strings to 64 bits first.
    */
  val BloomFpp = 0.01

  private def bloomSidecarExists(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_graft_blooms")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  private final class BloomAgg(expected: Long) extends
      org.apache.spark.sql.expressions.Aggregator[Long,
        org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
    import org.apache.spark.util.sketch.BloomFilter
    def zero: BloomFilter = BloomFilter.create(expected, BloomFpp)
    def reduce(b: BloomFilter, a: Long): BloomFilter = { b.putLong(a); b }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter =
      { a.mergeInPlace(b); a }
    def finish(b: BloomFilter): Array[Byte] = {
      val os = new java.io.ByteArrayOutputStream()
      b.writeTo(os); os.toByteArray
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[BloomFilter] =
      org.apache.spark.sql.Encoders.kryo[BloomFilter]
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** Build (or rebuild) the bloom sidecar over `keyCol` for every data
    * file currently in the layout: one scan, one bloom per file, sized
    * by the manifest's max rows-per-file.
    */
  def buildBloomSidecar(s: SparkSession, dir: String, keyCol: String): Unit = {
    import s.implicits._
    val maxRows = s.read.parquet(s"$dir/_graft_manifest")
      .agg(max(col("rows"))).as[Long].head()
    val agg = udaf(new BloomAgg(math.max(1024L, maxRows)),
      org.apache.spark.sql.Encoders.scalaLong)
    StoredRoot.replace(s, s"$dir/_graft_blooms") { staging =>
      s.read.parquet(dir)
        .groupBy(element_at(split(col("_metadata.file_path"), "/"), -1).as("file"))
        .agg(agg(col(keyCol).cast("long")).as("bloom"))
        .withColumn("key_col", lit(keyCol))
        .write.parquet(staging)
    }
  }

  /** The bloom cut: files whose bloom might contain ANY probed key,
    * plus every manifest file the sidecar does not cover (appended
    * since the bloom build — always scanned, never missed). Returns
    * (paths, totalFiles).
    */
  def selectFilesByKey(s: SparkSession, dir: String,
      keys: Seq[Long]): (Seq[String], Int) = {
    import s.implicits._
    // No sidecar at all (never built, or dropped by an old-format
    // compaction) = zero coverage: every manifest file is "uncovered"
    // and scanned — skipping degrades, correctness never.
    val blooms =
      if (!bloomSidecarExists(s, dir)) Array.empty[(String, Array[Byte])]
      else s.read.parquet(s"$dir/_graft_blooms")
        .select($"file", $"bloom").as[(String, Array[Byte])].collect()
    val all = s.read.parquet(s"$dir/_graft_manifest")
      .select($"file").as[String].collect()
    val kept = blooms.collect { case (f, bytes)
      if {
        val bf = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
        keys.exists(bf.mightContainLong)
      } => f }.toSet
    val uncovered = all.toSet -- blooms.map(_._1).toSet
    ((kept ++ uncovered).toSeq.sorted.map(f => s"$dir/$f"), all.length)
  }

  /** Point lookup on the bloom-indexed key: open only the bloom-kept
    * (plus uncovered) files, re-apply the key set as the residual,
    * minus tombstoned keys — exact regardless of bloom quality (a
    * bloom still claiming a deleted key only opens files; the
    * anti-join keeps the deleted rows out of the answer).
    */
  def lookupByKey(s: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long]): DataFrame = {
    val (kept, _) = selectFilesByKey(s, dir, keys)
    val rows =
      if (kept.isEmpty)
        s.read.parquet(dir).filter(col(keyCol).isin(keys: _*)).limit(0)
      else s.read.parquet(kept: _*).filter(col(keyCol).isin(keys: _*))
    minusLayoutTombstones(s, dir, rows)
  }

  /** The manifest cut: file names whose stats rectangle overlaps the
    * box, plus the layout's total file count (for skip-ratio
    * reporting / specs). Manifest is file-count-sized — a driver read
    * by design, like an Iceberg planning pass.
    */
  def selectFiles(s: SparkSession, dir: String,
      r1: (Long, Long), r2: (Long, Long)): (Seq[String], Int) = {
    import s.implicits._
    val m = s.read.parquet(s"$dir/_graft_manifest")
      .select($"file", $"mn1".cast("long"), $"mx1".cast("long"),
        $"mn2".cast("long"), $"mx2".cast("long"))
      .as[(String, Long, Long, Long, Long)].collect()
    val kept = m.collect { case (f, mn1, mx1, mn2, mx2)
      if mx1 >= r1._1 && mn1 <= r1._2 && mx2 >= r2._1 && mn2 <= r2._2 => f }
    (kept.toSeq.map(f => s"$dir/$f"), m.length)
  }

  /** Box query over a clustered layout: manifest-select the files,
    * read ONLY those, re-apply the box as the residual predicate
    * (which parquet also pushes into row-group stats — the kept files
    * are z-sorted, so both levels of skipping engage). Exact
    * regardless of manifest quality; the manifest only bounds I/O.
    */
  def scanBox(s: SparkSession, dir: String, c1: String, c2: String,
      r1: (Long, Long), r2: (Long, Long)): DataFrame = {
    val (kept, _) = selectFiles(s, dir, r1, r2)
    val residual = (df: DataFrame) => df.filter(
      col(c1).between(r1._1, r1._2) && col(c2).between(r2._1, r2._2))
    val rows =
      if (kept.isEmpty)
        // empty cut: keep the schema without opening any data file
        residual(s.read.parquet(dir)).limit(0)
      else residual(s.read.parquet(kept: _*))
    minusLayoutTombstones(s, dir, rows)
  }

  /** The declared events slice served from the layout: user 3-6 over
    * 2024-01-10 .. 2024-01-15 (valid at every fixture SF; epoch-ms
    * literals, the evt_* ts convention).
    */
  val BoxUsers: (Long, Long) = (3L, 6L)
  val BoxTsMs: (Long, Long) = (1704844800000L, 1705276800000L)

  private def eventsNarrow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d).select($"event_id", $"user_id", $"event_type",
      $"value", expr("unix_micros(ts) div 1000").as("ts_ms"))
  }

  /** Probed ids for evt_id_lookup: three present at every fixture SF
    * plus one absent everywhere (the bloom must not open files for
    * it beyond its false-positive rate).
    */
  val LookupIds: Seq[Long] = Seq(11L, 257L, 901L, 10000019L)

  /** The session's shared z-clustered events layout — (user_id,
    * ts_ms) z-order + manifest + event_id bloom sidecar — built at
    * most once per (session, corpus): build-once attribution (the
    * writeLexIndexOnce convention, r18). Three declared queries were
    * each paying an identical full layout build; now the first caller
    * builds, readers serve the base directly, and the takedown query
    * snapshots it by clone (tombstones never land on the shared base).
    */
  private val layoutWriteOnce = new graft.operators.SessionCache[String]()
  private def clusteredEventsDir(s: SparkSession, d: String): String =
    layoutWriteOnce.getOrBuild(s, d) {
      val dir = Similarity.storedQueryDir("bloomlay", d)
      writeClustered(eventsNarrow(s, d), dir, "user_id", "ts_ms")
      buildBloomSidecar(s, dir, "event_id")
      dir
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // point lookup on a NON-clustered key through the bloom sidecar:
    // the layout is clustered on (user_id, ts) — useless for an
    // event_id equality probe — so skipping comes entirely from the
    // per-file blooms; the residual IN re-applies the keys (exact
    // regardless of bloom quality). The takedown / "fetch this id"
    // access path.
    "evt_id_lookup" -> { (s, d) =>
      lookupByKey(s, clusteredEventsDir(s, d), "event_id", LookupIds)
    },
    // serve the 2-D box from the shared z-layout: manifest cut +
    // residual (the bloom sidecar is hidden metadata the box scan
    // never reads). LayoutSpec pins that the cut actually skips files
    // on user-only, ts-only, and combined boxes, and that a linear
    // user-sorted layout does NOT skip on the ts-only box.
    "evt_zorder_scan" -> { (s, d) =>
      scanBox(s, clusteredEventsDir(s, d), "user_id", "ts_ms",
        BoxUsers, BoxTsMs)
    },

    // The layout takedown round trip (the dedup_cdc_purged
    // convention): build the layout + bloom, tombstone one event id
    // (the takedown access path the bloom exists for) AND one whole
    // user (the GDPR erasure shape — the user who owns lookup id 901,
    // resolved through the same bloom path, so BOTH legs change this
    // query's answer at every fixture SF), then serve the standard
    // lookup. Deleted rows stop answering from the next read while
    // the z-sorted files stay untouched; the bloom may still OPEN a
    // file for the deleted id — that costs I/O, never a wrong row.
    "evt_id_lookup_purged" -> { (s, d) =>
      import s.implicits._
      // snapshot-clone of the shared layout (build-once attribution):
      // the line measures clone + two takedown legs + probe — the
      // deployment cost against an EXISTING layout
      val dir = Similarity.storedQueryDir("bloomlay_p", d)
      Similarity.cloneIndexDir(s, clusteredEventsDir(s, d), dir,
        Seq("_graft_tombstones"))
      deleteFromLayout(s, dir, "event_id", Seq(257L))
      val owner = lookupByKey(s, dir, "event_id", Seq(901L))
        .select($"user_id").as[Long].collect().toSeq
      deleteFromLayout(s, dir, "user_id", owner)
      lookupByKey(s, dir, "event_id", LookupIds)
    }
  )

  val oracles: Map[String, String] = Map(
    "evt_id_lookup" ->
      s"""SELECT event_id, user_id, event_type, value,
            epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms
          FROM events WHERE event_id IN (${LookupIds.mkString(", ")})""",
    "evt_zorder_scan" ->
      s"""SELECT event_id, user_id, event_type, value,
            epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms
          FROM events
          WHERE user_id BETWEEN ${BoxUsers._1} AND ${BoxUsers._2}
            AND epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP))
              BETWEEN ${BoxTsMs._1} AND ${BoxTsMs._2}""",
    // the takedown restated as the set difference the tombstone
    // anti-joins guarantee: the lookup minus the deleted event id
    // minus every event of the erased user (the owner of id 901)
    "evt_id_lookup_purged" ->
      s"""SELECT event_id, user_id, event_type, value,
            epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms
          FROM events WHERE event_id IN (${LookupIds.mkString(", ")})
            AND event_id <> 257
            AND user_id NOT IN
              (SELECT user_id FROM events WHERE event_id = 901)"""
  )
}
