package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.DnaFunctions

/** The reference's whole pipeline (SURVEY.md §3.1–§3.2) re-expressed as
  * Spark operators over the `documents` table, with each document row
  * playing the role of one input file:
  *
  *   discover (S1–S3, F1, F3) → dedup (J1/T2) → encode (X15→explode,
  *   X6, X10) → validate (F5/X18) → reconstruct (A5) → report (S7
  *   shape, A2/A3/A6) → status tallies (A4/F6).
  *
  * Chunk size 64 (not the reference default 1000) so the test corpus
  * (≤553-char docs) genuinely exercises multi-chunk files; the operator
  * itself is parametric.
  *
  * Scale notes: the fused path (encode→validate→reconstruct inside one
  * per-row function) is shuffle-free — per-file parallelism is the win
  * over the reference's sequential file loop (`dags/dag.py:723`). The
  * grouped reconstruction path exists to serve chunk-level relations
  * and costs exactly one exchange on the file key.
  */
object DnaPipeline {
  val ChunkSize = 64
  val Nsym = 10

  /** S1–S3/F3: the file-record projection — path analog, content,
    * content hash (dedup key, `dag.py:454-470`), byte size.
    */
  def discover(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // a null document is an EMPTY FILE to this pipeline (the reference
    // reads files; file content is never SQL-NULL) — coalesced here,
    // at the single entry point, so every downstream kernel stays
    // total; the oracles state the same COALESCE
    Tables.documents(s, d).select(
      format_string("doc_%05d.txt", $"doc_id").as("file_path"),
      $"doc_id",
      coalesce($"text", lit("")).as("text"),
      md5(to_binary(coalesce($"text", lit("")), lit("utf-8"))).as("file_hash"),
      octet_length(coalesce($"text", lit(""))).cast("long").as("file_size"))
  }

  /** J1/T2: content-hash anti-join dedup against a tracking relation.
    * Broadcast when the tracking side is small; at scale Catalyst/AQE
    * picks sort-merge on the hash key.
    */
  def dedupAgainstTracking(files: DataFrame, tracking: DataFrame): DataFrame =
    files.join(tracking.select("file_hash").distinct(), Seq("file_hash"), "left_anti")

  /** Exploded chunk relation (X15 chunker → generator): one row per DNA
    * chunk with id/index/bytes/checksum/DNA/parity (`dag.py:551-563`).
    * An explode of the `chunks` column of [[fileReport]]'s cached
    * relation: the Goldman+RS encode is the pipeline's dominant compute,
    * and `dna_process` already builds every file's chunks (a file whose
    * validation fails included), so the corpus is encoded once per
    * (session, corpus, chunkSize, nsym) and the chunk consumers
    * (chunks/validate/reconstruct/stats) read it from that cache.
    */
  def chunkRelation(s: SparkSession, d: String,
      chunkSize: Int = ChunkSize, nsym: Int = Nsym): DataFrame = {
    import s.implicits._
    fileReport(s, d, chunkSize, nsym)
      .select($"doc_id", $"file_hash", explode($"chunks").as("chunk"))
      .select($"doc_id", $"file_hash", $"chunk.*")
  }

  /** Fused per-file report (§3.2): one narrow map produces the whole
    * process_text_file result and the file's chunk rows — no shuffle.
    * Built once per (session, corpus, chunkSize, nsym) and persisted:
    * dna_roundtrip and pipe_status_report read its report columns,
    * [[chunkRelation]] its `chunks`; it is the reference's per-file
    * processing result, written once per file in `dag.py:723`.
    */
  def fileReport(s: SparkSession, d: String,
      chunkSize: Int = ChunkSize, nsym: Int = Nsym): DataFrame =
    fileReportCache.getOrBuild(s, s"$chunkSize/$nsym#$d") {
      import s.implicits._
      discover(s, d)
        .withColumn("r", DnaFunctions.dnaProcessNative(s, chunkSize, nsym)($"text"))
        .select($"doc_id", $"file_hash", $"file_size", $"r.*")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val fileReportCache = new SessionCache[DataFrame](df =>
    scala.util.Try(df.unpersist(blocking = false)))

  /** A3: DNA-base totals per source. Value-dependent on the base-3
    * encoding (digit count of each chunk's byte value), so not
    * ANSI-SQL-expressible; the density invariant that pins it is
    * spec-tested (bases/byte ≈ 8/log₂3).
    */
  def dnaBaseStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    chunkRelation(s, d)
      .join(broadcast(Tables.documents(s, d).select($"doc_id", $"source")), "doc_id")
      .groupBy($"source")
      .agg(sum(length($"dna_sequence")).as("total_dna_bases"),
           sum($"chunk_nbytes").as("total_bytes"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Roundtrip-identity contract: reconstructed checksum must equal the
    // original md5 — the oracle states this independently, so a codec
    // bug fails the hash compare.
    "dna_roundtrip" -> { (s, d) =>
      import s.implicits._
      fileReport(s, d).select(
        $"doc_id", $"original_checksum", $"reconstructed_checksum",
        $"n_chunks".cast("long").as("n_chunks"), $"status")
    },

    // Chunk-level relation vs a pure-SQL chunking oracle (valid because
    // the corpus is ASCII: byte slices == char slices).
    "dna_chunks" -> { (s, d) =>
      import s.implicits._
      chunkRelation(s, d).select(
        $"doc_id", $"chunk_id", $"idx", $"chunk_nbytes", $"checksum")
    },

    // F5/X18: per-chunk integrity validation tallies.
    "dna_validate" -> { (s, d) =>
      import s.implicits._
      chunkRelation(s, d)
        .withColumn("valid",
          DnaFunctions.validateChunk($"dna_sequence", $"chunk_nbytes", $"checksum"))
        .agg(count(lit(1)).as("n_chunks"),
             sum(when($"valid", 0L).otherwise(1L)).as("n_invalid"))
    },

    // A5 via the grouped path: explode → shuffle on the file key →
    // ordered reconstruction → whole-file checksum equality (A6).
    // The typed Aggregator decodes each chunk as it folds and does
    // map-side partial aggregation — no per-file collect_list array,
    // so one multi-GB file (millions of chunks) can't spike a single
    // task's memory (SURVEY.md §4.2).
    "dna_reconstruct" -> { (s, d) =>
      import s.implicits._
      val recon = chunkRelation(s, d)
        .select($"doc_id", $"idx", $"dna_sequence", $"chunk_nbytes")
        .as[DnaFunctions.ChunkSlice]
        .groupByKey(_.doc_id)
        .agg(DnaFunctions.ReconstructAggregator.toColumn.name("reconstructed"))
        .toDF("doc_id", "reconstructed")
      // EVERY discovered file reconstructs — a zero-chunk (empty) file
      // to the empty string, exactly as the codec round-trips it
      discover(s, d).select($"doc_id")
        .join(recon, Seq("doc_id"), "left")
        .select($"doc_id",
          md5(to_binary(coalesce($"reconstructed", lit("")), lit("utf-8")))
            .as("recon_md5"))
    },

    // A2/A3-type stats over the encoded relation, per source. The
    // SQL-computable columns (chunk counts, byte totals) are
    // oracle-checked; total_dna_bases is value-dependent (base-3 digit
    // count of each chunk's bytes) so it is pinned by the spec-tested
    // density invariant instead (DnaPipelineSpec: 4.8 < bases/byte <
    // 5.3, the 8/log2(3) ≈ 5.05 encoding expansion) and remains on the
    // library surface via `fileReport` / `dnaBaseStats`.
    "dna_stats" -> { (s, d) =>
      import s.implicits._
      chunkRelation(s, d)
        .join(broadcast(Tables.documents(s, d).select($"doc_id", $"source")), "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_chunks"),
             sum($"chunk_nbytes").as("total_bytes"))
    },

    // J1/T2: incremental-recompute dedup — docs whose content hash is
    // already in the tracking set (doc_id % 3 == 0 simulates the
    // processed_files table) are skipped.
    "pipe_incremental_dedup" -> { (s, d) =>
      import s.implicits._
      val files = discover(s, d)
      val tracking = files.filter($"doc_id" % 3 === 0)
        .select($"file_hash", $"doc_id".as("t_id"))
      dedupAgainstTracking(files, tracking)
        .select($"doc_id", $"file_path", $"file_size")
    },

    // A4/F6: status tallies — the driver-facing success/failure report.
    "pipe_status_report" -> { (s, d) =>
      import s.implicits._
      fileReport(s, d)
        .withColumn("ok", $"status" === "success" &&
          $"original_checksum" === $"reconstructed_checksum")
        .groupBy($"status")
        .agg(count(lit(1)).as("n_files"),
             sum(when($"ok", 1L).otherwise(0L)).as("n_roundtrip_ok"),
             sum($"n_chunks").as("total_chunks"))
    })

  // COALESCE: the null-doc-is-empty-file contract of `discover`.
  // strlen (BYTES, the chunker's unit), not LENGTH (characters): the
  // two only coincide on ASCII. Chunk BOUNDARIES in the dna_chunks
  // oracle remain character-based SUBSTRING windows — byte-identical
  // for single-chunk documents of any script and multi-chunk ASCII
  // documents; a multi-chunk NON-ASCII document's UTF-8-safe byte
  // boundaries are not ANSI-SQL-expressible (documented gap).
  private val chunkExpr =
    s"CAST(CEIL(strlen(COALESCE(text, '')) / $ChunkSize.0) AS BIGINT)"

  val oracles: Map[String, String] = Map(
    "dna_roundtrip" ->
      s"""SELECT doc_id, MD5(COALESCE(text, '')) AS original_checksum,
          MD5(COALESCE(text, '')) AS reconstructed_checksum,
          $chunkExpr AS n_chunks,
          'success' AS status
          FROM documents""",
    "dna_chunks" ->
      s"""SELECT d.doc_id,
          PRINTF('dna_chunk_%03d', g.i) AS chunk_id,
          CAST(g.i AS INT) AS idx,
          CAST(strlen(SUBSTRING(COALESCE(d.text, ''), CAST(g.i * $ChunkSize + 1 AS BIGINT), $ChunkSize)) AS INT) AS chunk_nbytes,
          MD5(SUBSTRING(COALESCE(d.text, ''), CAST(g.i * $ChunkSize + 1 AS BIGINT), $ChunkSize)) AS checksum
          FROM documents d
          JOIN generate_series(0, 4095) AS g(i)
            ON g.i < $chunkExpr""",
    "dna_validate" ->
      s"""SELECT CAST(SUM($chunkExpr) AS BIGINT) AS n_chunks,
          CAST(0 AS BIGINT) AS n_invalid FROM documents""",
    "dna_reconstruct" ->
      """SELECT doc_id, MD5(COALESCE(text, '')) AS recon_md5 FROM documents""",
    "dna_stats" ->
      s"""SELECT source, CAST(SUM($chunkExpr) AS BIGINT) AS n_chunks,
          CAST(SUM(strlen(COALESCE(text, ''))) AS BIGINT) AS total_bytes
          FROM documents GROUP BY source""",
    "pipe_incremental_dedup" ->
      """SELECT d.doc_id, PRINTF('doc_%05d.txt', d.doc_id) AS file_path,
         CAST(LENGTH(COALESCE(d.text, '')) AS BIGINT) AS file_size
         FROM documents d
         WHERE NOT EXISTS (SELECT 1 FROM documents p
           WHERE p.doc_id % 3 = 0
             AND MD5(COALESCE(p.text, '')) = MD5(COALESCE(d.text, '')))""",
    "pipe_status_report" ->
      s"""SELECT 'success' AS status, COUNT(*) AS n_files,
          COUNT(*) AS n_roundtrip_ok,
          CAST(SUM($chunkExpr) AS BIGINT) AS total_chunks
          FROM documents""").filter(_._2.nonEmpty)
}
