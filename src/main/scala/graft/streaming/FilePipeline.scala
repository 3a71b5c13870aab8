package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.graftbridge.{DatasetBridge, FileWriteBridge}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.DnaFunctions

/** The reference pipeline end-to-end (SURVEY.md §2.9/§3.1) as a
  * Structured Streaming job: file source → content-hash dedup →
  * fused DNA process → fan-out sinks, with the tracking table,
  * dead-letter branch and status events. Each file is encoded once per
  * batch, by `dna_process`; its report struct carries the chunk rows
  * that the chunk+meta sink writes.
  *
  * Reference mechanics re-expressed (T1–T5):
  *  - 30-min cron rescan (`dags/dag.py:39`) → file-source stream;
  *    `Trigger.AvailableNow` per run (or `ProcessingTime` for a
  *    long-lived daemon). The checkpoint replaces Airflow's metadata.
  *  - Content-hash exactly-once (`dags/dag.py:452-474`): Spark's file
  *    source dedups by PATH only, so each batch is checked by md5
  *    against the tracking table — a rename can't re-process content,
  *    and the append-only tracking write keeps `ON CONFLICT DO NOTHING`
  *    semantics (`dags/dag.py:743`) because membership is checked
  *    before every insert.
  *  - Dead-letter routing (`dags/dag.py:285-318`): failed branch of the
  *    same DataFrame → JSON error records + payload copy.
  *  - Status events (`dags/dag.py:320-345`): append-only event table,
  *    latest-wins view — fixes the reference's lost-UPDATE quirk
  *    (SURVEY.md §7.4) while keeping the final-table contract.
  *
  * A micro-batch ([[processBatch]]) runs only its content-sized work
  * as Spark jobs, and keeps each file's bookkeeping on the driver:
  *  - Key pass (job): one key row per file, `(file_hash, file_path)`,
  *    is collected; no file content is shuffled. The driver asks the
  *    store which hashes it holds ([[TrackingStore.tracked]]) and drops
  *    every path whose hash is tracked and, within the batch, every path
  *    but the smallest for each hash (the first landing wins,
  *    deterministically). A batch with nothing fresh stops there and
  *    touches no sink.
  *  - Build (job): the batch minus the dropped paths is the processed
  *    frame, persisted once. One `mapPartitions` + `collect()` builds
  *    the cache, writes each completed file's `processed_<name>` from
  *    the executors and brings back each file's bookkeeping row, without
  *    its content or chunks.
  *  - Chunk rows and dead-letter payloads (a job each, when their
  *    branch has a row) are read from the cache.
  *  - Reports (JSON), status events (parquet) and parquet tracking rows
  *    are written by the driver from the collected rows, through Spark's
  *    own format writers (`graftbridge.FileWriteBridge`): one file per
  *    sink and batch (tracking: per `status=` partition), written under
  *    a hidden name and renamed into place. One instant per batch stamps
  *    all three. These three dirs get no `_SUCCESS` marker; nothing
  *    reads one.
  *
  * The sinks are written in this order: output files, reports, chunks,
  * dead letters, status events, and the tracking upsert LAST, so that a
  * batch that dies before its upsert is replayed whole and no file is
  * tracked without its other sinks. Every job of a batch carries its
  * phase name in the [[PhaseProperty]] local property and in its job
  * description. The parquet store holds its tracked hashes on the
  * driver, about 100 B per tracked file ([[ParquetTracking]]).
  *
  * The batch is read twice, by the key pass and by the build. That
  * relies on the file source's contract that a landed file is not
  * changed afterwards: a file rewritten between the two reads would be
  * processed with content whose hash was never checked.
  *
  * A streamed batch is re-homed into the caller's session before any
  * of this. Each [[run]] starts a query, and the query clones the
  * session; executors build one class loader per session, and Spark's
  * generated-code cache is keyed by class loader. Left in the clone,
  * every drain would compile its generated classes afresh. In the
  * caller's session a later drain compiles none: no plan of it inlines
  * a per-drain instant, since the timestamped sinks are written by the
  * driver.
  */
object FilePipeline {

  /** The reference's processing-status state machine
    * (`dags/dag.py:103-110`; lifecycle `README.md:91-98`). RETRYING and
    * DEAD_LETTER exist in the reference's enum but are never persisted
    * to its DB (SURVEY.md §7.4) — here every state is a legal event.
    */
  sealed abstract class Status(val name: String)
  object Status {
    case object Pending extends Status("pending")
    case object Processing extends Status("processing")
    case object Completed extends Status("completed")
    case object Failed extends Status("failed")
    case object Retrying extends Status("retrying")
    case object DeadLetter extends Status("dead_letter")
    val all: Seq[Status] =
      Seq(Pending, Processing, Completed, Failed, Retrying, DeadLetter)
    def parse(s: String): Option[Status] = all.find(_.name == s)
  }

  /** The reference's codec knobs (`dags/dag.py:661-667`: chunk size and
    * RS parity symbols, same defaults) plus the engine's own
    * failure-injection bound. The reference's `max_retries` and
    * `circuit_breaker_threshold` have no field: a failed task is retried
    * by Spark (`spark.task.maxFailures`), and a batch that dies is
    * replayed whole from the streaming checkpoint. The input directory
    * is [[Dirs.input]].
    */
  case class Config(
      chunkSize: Int = 1000,
      errorCorrectionSymbols: Int = 10,
      maxFileBytes: Long = 16L * 1024 * 1024)

  case class Dirs(
      input: String,
      output: String,
      reports: String,
      tracking: String,
      deadLetter: String,
      statusEvents: String,
      checkpoint: String,
      chunks: String = "") // S8 chunk+meta sink; "" disables

  /** Pluggable tracking store (S5/S9): where the content-hash
    * exactly-once membership lives. The parquet table is the default
    * deployment; [[JdbcTrackingStore]] is drop-in parity with the
    * reference's Postgres `processed_files` (`init-scripts.sql:5-14`),
    * executed for real against Derby in JdbcPipelineSpec. Both sides
    * of the contract run on the driver, with a batch's keys and rows in
    * hand: [[tracked]] answers the key pass that makes reprocessing
    * impossible, and [[upsert]] must itself be idempotent on `file_hash`
    * so a replayed micro-batch (foreachBatch is at-least-once on
    * failure) cannot double-insert.
    */
  sealed trait TrackingStore extends Serializable {
    /** The subset of `hashes` that the store holds. */
    def tracked(spark: SparkSession, hashes: Set[String]): Set[String]
    /** Idempotent append of
      * (file_hash, file_path, file_size, status, output_file) rows,
      * stamped `processedAt` where the store does not stamp them itself.
      */
    def upsert(spark: SparkSession, rows: Seq[Row], processedAt: Instant): Unit
  }

  /** Default store: the status-partitioned parquet tracking table
    * (status-scoped sweeps prune partitions instead of scanning all
    * history). Idempotence comes from the caller's key pass — the
    * same ordering the reference relies on (`dags/dag.py:452-474`).
    *
    * The driver holds, per qualified table path, the data files it has
    * folded in and their hashes, about 100 B per tracked file. [[tracked]]
    * lists the table and reads `file_hash` only from files it has not
    * folded: those another writer appended. [[upsert]] folds the files
    * and hashes it writes without reading them back, so in steady state
    * a batch's membership costs one listing and no job. If a folded file
    * has vanished (the table was deleted or rewritten), the held set
    * starts over from the listing.
    */
  final case class ParquetTracking(dir: String) extends TrackingStore {
    /** Every tracked row's `file_hash`, as a relation read from the
      * whole table.
      */
    def knownHashes(spark: SparkSession): DataFrame = {
      val (fs, table) = root(spark)
      if (fs.exists(table))
        // schema stated: inferring it runs a footer-reading job
        spark.read.schema(TrackingSchema.add("status", "string"))
          .parquet(table.toString).select("file_hash")
      else spark.emptyDataset(Encoders.STRING).toDF("file_hash")
    }

    /** The table's qualified path: through Hadoop's FileSystem, so a
      * `file:` or `hdfs://` URI resolves like a plain path does.
      */
    private def root(spark: SparkSession): (FileSystem, Path) = {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      (fs, fs.makeQualified(p))
    }

    /** The table's data files, skipping what a Spark reader skips: any
      * name under the table that starts with `_` or `.`.
      */
    private def dataFiles(fs: FileSystem, root: Path): Set[String] = {
      def visible(p: Path): Boolean = p == null || p == root ||
        !p.getName.startsWith("_") && !p.getName.startsWith(".") && visible(p.getParent)
      val files = Set.newBuilder[String]
      if (fs.exists(root)) {
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val p = it.next().getPath
          if (visible(p)) files += p.toString
        }
      }
      files.result()
    }

    def tracked(spark: SparkSession, hashes: Set[String]): Set[String] = {
      val (fs, table) = root(spark)
      val files = dataFiles(fs, table)
      val held = ParquetTracking.held.computeIfAbsent(table.toString, _ => new ParquetTracking.Held)
      held.synchronized {
        if (!held.files.subsetOf(files)) {
          held.files.clear()
          held.hashes.clear()
        }
        val unfolded = files -- held.files
        if (unfolded.nonEmpty) {
          held.hashes ++= spark.read.schema("file_hash STRING")
            .parquet(unfolded.toSeq: _*).as(Encoders.STRING).collect()
          held.files ++= unfolded
        }
        hashes.filter(held.hashes)
      }
    }

    /** One parquet file per status partition, written by the driver. */
    def upsert(spark: SparkSession, rows: Seq[Row], processedAt: Instant): Unit = {
      val (_, table) = root(spark)
      val written = rows.groupBy(_.getString(3)).map { case (status, rs) =>
        FileWriteBridge.writeFile(spark, "parquet", table.toString, TrackingSchema,
          rs.map(r => Row(r.get(0), r.get(1), r.get(2), processedAt, r.get(4))),
          Some("status" -> status)).toString
      }
      // nothing held yet: the next `tracked` lists the table and reads it
      Option(ParquetTracking.held.get(table.toString)).foreach(held => held.synchronized {
        held.files ++= written
        held.hashes ++= rows.map(_.getString(0))
      })
    }
  }

  object ParquetTracking {
    private final class Held {
      val files = mutable.Set.empty[String]
      val hashes = mutable.Set.empty[String]
    }
    /** Keyed by the table's qualified path, for this JVM's lifetime. */
    private val held = new ConcurrentHashMap[String, Held]()
  }

  /** A tracking data file's columns; `status` is its partition. */
  private val TrackingSchema = StructType.fromDDL("file_hash STRING, file_path STRING, " +
    "file_size BIGINT, processed_at TIMESTAMP, output_file STRING")

  /** The reference's JDBC tracking table as the store: membership asks
    * the database about a batch's hashes only, and rows go through the
    * insert-if-absent batch of [[graft.sources.JdbcTracking.upsertRows]]
    * (Postgres `ON CONFLICT DO NOTHING` / Derby `MERGE`), which makes
    * the upsert idempotent at the DATABASE, not just via the key pass.
    * The database stamps `processed_at` itself, as the reference's does.
    */
  final case class JdbcTrackingStore(url: String, user: String,
      password: String, dialect: graft.sources.JdbcTracking.SqlDialect)
    extends TrackingStore {
    def tracked(spark: SparkSession, hashes: Set[String]): Set[String] =
      graft.sources.JdbcTracking.tracked(url, user, password, hashes)
    def upsert(spark: SparkSession, rows: Seq[Row], processedAt: Instant): Unit =
      graft.sources.JdbcTracking.upsertRows(rows, url, user, password, dialect)
  }

  /** S4 (`dags/dag.py:426-443`): if the input directory has no .txt
    * files, synthesize a small sample so a demo run has work to do.
    * Returns true if the bootstrap file was written.
    */
  def bootstrapSampleInput(inputDir: String): Boolean = {
    Files.createDirectories(Paths.get(inputDir))
    val hasTxt = Using.resource(Files.list(Paths.get(inputDir)))(
      _.iterator.asScala.exists(_.toString.endsWith(".txt")))
    if (hasTxt) false
    else {
      val lorem =
        "Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do " +
          "eiusmod tempor incididunt ut labore et dolore magna aliqua."
      Files.write(Paths.get(inputDir, "sample_input.txt"),
        lorem.getBytes(StandardCharsets.UTF_8))
      true
    }
  }

  /** S1/S2/F1/F3: streaming whole-file text source with the file-record
    * projection (path, name, content hash, size).
    */
  def readFiles(spark: SparkSession, inputDir: String): DataFrame =
    fileRecords(spark.readStream.options(WholeTxt).text(inputDir))

  /** Batch form of the same source (the reference's non-streaming DAG
    * run over a directory).
    */
  def readFilesBatch(spark: SparkSession, inputDir: String): DataFrame =
    fileRecords(spark.read.options(WholeTxt).text(inputDir))

  private val WholeTxt = Map("wholetext" -> "true", "pathGlobFilter" -> "*.txt")

  private def fileRecords(text: DataFrame): DataFrame =
    text.select(
      col("_metadata.file_path").as("file_path"),
      element_at(split(col("_metadata.file_path"), "/"), -1).as("filename"),
      col("value").as("content"),
      md5(to_binary(col("value"), lit("utf-8"))).as("file_hash"),
      octet_length(col("value")).cast("long").as("file_size"))

  /** Local property naming the FilePipeline phase a job belongs to:
    * `filepipeline.build` (the key pass, a read of tracking files another
    * writer appended, and the build), `.chunks` or `.dead_letter`.
    */
  val PhaseProperty = "graft.phase"

  /** Runs `body` with its jobs tagged `name`: in [[PhaseProperty]], and
    * appended to the job description (a streaming batch's own
    * description stays in front). The job group is left alone: the
    * streaming engine cancels a query through it.
    */
  private def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val description = "spark.job.description"
    val (prevPhase, prevDesc) = (sc.getLocalProperty(PhaseProperty),
      sc.getLocalProperty(description))
    sc.setLocalProperty(PhaseProperty, name)
    sc.setLocalProperty(description, Option(prevDesc).fold(name)(d => s"$d\n$name"))
    try body
    finally {
      sc.setLocalProperty(PhaseProperty, prevPhase)
      sc.setLocalProperty(description, prevDesc)
    }
  }

  /** The output dir as the local path the executors' `java.nio` writer
    * needs: a `file:` URI is reduced to its path, and any other scheme
    * is refused rather than written as a relative directory named after
    * it.
    */
  private def localOutputDir(dir: String): String = {
    val uri = new Path(dir).toUri
    uri.getScheme match {
      case null => dir
      case "file" => uri.getPath
      case other => throw new IllegalArgumentException(
        s"output dir $dir: scheme '$other' is not supported, the per-file " +
          "writer needs a local path or a file: URI")
    }
  }

  /** A processed file as the build hands it to the driver: every field
    * the report, status and tracking sinks write. `content` is set only
    * on the executor side, for the output-file write; the rows collected
    * carry no content and no chunk.
    */
  private[streaming] case class Booked(file_path: String, filename: String, file_hash: String,
      file_size: Long, status: String, original_checksum: String,
      reconstructed_checksum: String, dna_chunks_count: java.lang.Integer,
      total_dna_bases: java.lang.Long, content: String)

  private val ReportSchema = StructType.fromDDL("file_path STRING, filename STRING, " +
    "file_hash STRING, original_checksum STRING, reconstructed_checksum STRING, " +
    "dna_chunks_count INT, total_dna_bases BIGINT, chunk_size INT, " +
    "error_correction_symbols INT, processed_at TIMESTAMP")

  private val StatusSchema =
    StructType.fromDDL("file_hash STRING, status STRING, event_time TIMESTAMP")

  /** One micro-batch: dedup → process → fan-out. Also the per-run body
    * of the batch entry point. The dedup rule, the empty-batch gate and
    * the sink order are set out on [[FilePipeline]].
    */
  def processBatch(spark: SparkSession, files: DataFrame, dirs: Dirs,
      cfg: Config = Config(), store: Option[TrackingStore] = None): Unit = {
    import spark.implicits._

    val outDir = localOutputDir(dirs.output)
    val tracking = store.getOrElse(ParquetTracking(dirs.tracking))

    // a streamed batch belongs to the query's clone of `spark`; re-homed,
    // it reuses `spark`'s generated classes (see [[FilePipeline]])
    val batch =
      if (files.sparkSession eq spark) files else DatasetBridge.rehome(spark, files)

    // J1/T2: content-hash exactly-once from one narrow key pass. A path
    // is dropped if its hash is tracked, or if a smaller path of the
    // batch holds the same content: the first landing wins.
    val (keys, known) = phase(spark, "filepipeline.build") {
      val keys = batch.select("file_hash", "file_path").as[(String, String)].collect()
      (keys, tracking.tracked(spark, keys.map(_._1).toSet))
    }
    val keep = keys.filterNot(k => known(k._1))
      .groupMapReduce(_._1)(_._2)(Ordering[String].min(_, _)).values.toSet
    if (keep.isEmpty) return // F4's empty-input gate (`dags/dag.py:816-821`)
    val drop = keys.map(_._2).toSet -- keep
    // InSet holds its set as one reference object, so the generated
    // filter is the same for every batch
    val fresh =
      if (drop.isEmpty) batch
      else batch.filter(!column(InSet(expression($"file_path"),
        drop.map[Any](UTF8String.fromString))))

    // Fused per-file pipeline (no shuffle): encode→validate→reconstruct.
    // The one encode of the batch: the chunk rows ride in the report
    // and are lifted into their own cached column, so the chunk sink
    // explodes them and the other sinks never read them from the cache.
    // Files over the size bound are failed without processing (the
    // dead-letter branch needs a deterministic trigger in tests too).
    val processed = fresh
      .withColumn("oversize", $"file_size" > cfg.maxFileBytes)
      .withColumn("r",
        when(!$"oversize",
          DnaFunctions.dnaProcessNative(spark, cfg.chunkSize,
            cfg.errorCorrectionSymbols)($"content")))
      .withColumn("chunks", $"r.chunks")
      .withColumn("r", $"r".dropFields("chunks"))
      .withColumn("status",
        when($"oversize", lit("failed"))
          .when($"r.status" === "success" &&
            $"r.original_checksum" === $"r.reconstructed_checksum", lit("completed"))
          .otherwise(lit("failed")))
      .withColumn("error_message",
        when($"oversize", concat(lit("file exceeds maxFileBytes="), lit(cfg.maxFileBytes)))
          .when($"status" === "failed", lit("checksum mismatch after reconstruction")))
      .persist()

    try {
      // S6: reconstructed text, one exact-named file per input
      // (`processed_{filename}`, dags/dag.py:577) — executor-side
      // writer; on a cluster this is a DFS client, locally java.nio.
      // This action builds the cache and brings each file's bookkeeping
      // row to the driver.
      val booked = phase(spark, "filepipeline.build") {
        processed.select($"file_path", $"filename", $"file_hash", $"file_size", $"status",
          $"r.original_checksum".as("original_checksum"),
          $"r.reconstructed_checksum".as("reconstructed_checksum"),
          $"r.n_chunks".as("dna_chunks_count"), $"r.total_dna_bases".as("total_dna_bases"),
          when($"status" === "completed", $"content").as("content"))
          .as[Booked]
          .mapPartitions(_.map { f =>
            if (f.content != null) {
              Files.createDirectories(Paths.get(outDir))
              Files.write(Paths.get(outDir, s"processed_${f.filename}"),
                f.content.getBytes(StandardCharsets.UTF_8))
            }
            f.copy(content = null)
          })
          .collect()
      }
      val ok = booked.filter(_.status == "completed")
      val processedAt = Instant.now() // stamps reports, status events and tracking

      if (ok.nonEmpty) {
        // S7: per-file DNA report (nested JSON)
        FileWriteBridge.writeFile(spark, "json", dirs.reports, ReportSchema, ok.map(f =>
          Row(f.file_path, f.filename, f.file_hash, f.original_checksum,
            f.reconstructed_checksum, f.dna_chunks_count, f.total_dna_bases,
            cfg.chunkSize, cfg.errorCorrectionSymbols, processedAt)))

        // S8: per-chunk DNA + metadata sink, partitioned by file hash
        // (`dags/dag.py:540-569`), when a chunks dir is configured.
        if (dirs.chunks.nonEmpty) phase(spark, "filepipeline.chunks") {
          processed.filter($"status" === "completed")
            .select($"file_hash", explode($"chunks").as("chunk"))
            .select($"file_hash", $"chunk.chunk_id", $"chunk.idx",
              $"chunk.dna_sequence", $"chunk.checksum", $"chunk.ecc_hex",
              $"chunk.chunk_nbytes")
            .write.mode("append").partitionBy("file_hash").json(dirs.chunks)
        }
      }

      // S10: dead-letter sink — error metadata + original payload;
      // dead-letter filename mirrors the reference's
      // `failed_{timestamp}_{filename}` (X19, dags/dag.py:294-296).
      if (ok.length < booked.length) phase(spark, "filepipeline.dead_letter") {
        processed.filter($"status" =!= "completed")
          .select($"file_path", $"filename", $"file_hash", $"file_size",
            $"error_message", $"content".as("payload"),
            format_string("failed_%s_%s",
              date_format(current_timestamp(), "yyyyMMdd_HHmmss"), $"filename")
              .as("dead_letter_file"),
            current_timestamp().as("failed_at"))
          .coalesce(1)
          .write.mode("append").json(dirs.deadLetter)
      }

      // S11/T4: status events, append-only
      FileWriteBridge.writeFile(spark, "parquet", dirs.statusEvents, StatusSchema,
        booked.map(f => Row(f.file_hash, f.status, processedAt)))

      // S9: tracking upsert (content-addressed; the key pass above plus
      // the store's own insert-if-absent keep ON CONFLICT DO NOTHING
      // semantics) through the pluggable store. Last, so that a batch
      // that dies before it is replayed whole.
      tracking.upsert(spark, booked.map(f => Row(f.file_hash, f.file_path, f.file_size,
        f.status, if (f.status == "completed") s"processed_${f.filename}" else null)),
        processedAt)
    } finally processed.unpersist()
  }

  /** T4: latest-wins status view over the append-only event table. */
  def currentStatus(spark: SparkSession, statusEventsDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("file_hash"))
      .orderBy(col("event_time").desc)
    spark.read.parquet(statusEventsDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Streaming entry point (T1). `Trigger.AvailableNow` = one drain of
    * everything new, the per-run shape; pass
    * `Trigger.ProcessingTime("30 minutes")` for the reference's cadence
    * as a daemon.
    */
  def run(spark: SparkSession, dirs: Dirs, cfg: Config = Config(),
      trigger: Trigger = Trigger.AvailableNow(),
      store: Option[TrackingStore] = None): StreamingQuery =
    MicroBatch.start(readFiles(spark, dirs.input).writeStream
      .option("checkpointLocation", dirs.checkpoint)
      .trigger(trigger))(processBatch(spark, _, dirs, cfg, store))

  /** Batch entry point: same body, one pass (the reference's DAG run). */
  def runBatch(spark: SparkSession, dirs: Dirs, cfg: Config = Config()): Unit =
    processBatch(spark, readFilesBatch(spark, dirs.input), dirs, cfg)
}
