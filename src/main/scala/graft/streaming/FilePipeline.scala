package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
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
  * A micro-batch ([[processBatch]]) first collects one key row per
  * file, `(file_hash, file_path, tracked)`, where `tracked` comes from a
  * left-outer join with [[TrackingStore.knownHashes]]; no file content
  * is shuffled. The driver drops every path whose hash is tracked and,
  * within the batch, every path but the smallest for each hash (the
  * first landing wins, deterministically). A batch with nothing fresh
  * stops there and touches no sink. Otherwise the batch minus the
  * dropped paths is the processed frame: persisted once, it feeds every
  * sink, in this order: output files (the action that builds the cache
  * and counts each branch), reports, chunks, dead letters, status
  * events, and the tracking upsert LAST, so that a batch that dies
  * before its upsert is replayed whole and no file is tracked without
  * its other sinks. A sink whose branch has no row is skipped. Every
  * job of a batch carries its phase name in the [[PhaseProperty]]
  * local property and in its job description.
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
  * caller's session a later drain compiles only its sinks'
  * `current_timestamp()` projections, whose instant is inlined as a
  * literal.
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
    * of the contract matter: [[knownHashes]] feeds the key pass that
    * makes reprocessing impossible, [[upsert]] must itself be
    * idempotent on `file_hash` so a replayed micro-batch (foreachBatch
    * is at-least-once on failure) cannot double-insert.
    */
  sealed trait TrackingStore extends Serializable {
    /** `file_hash` of every tracked row. Not deduplicated: a hash
      * repeats only if a store holds it twice, and then it only repeats
      * a key row of the batch's left-outer key pass, which the driver
      * reads as a set.
      */
    def knownHashes(spark: SparkSession): DataFrame
    /** Idempotent append of
      * (file_hash, file_path, file_size, status, output_file) rows.
      */
    def upsert(spark: SparkSession, rows: DataFrame): Unit
  }

  /** Default store: the status-partitioned parquet tracking table
    * (status-scoped sweeps prune partitions instead of scanning all
    * history). Idempotence comes from the caller's key pass — the
    * same ordering the reference relies on (`dags/dag.py:452-474`).
    */
  final case class ParquetTracking(dir: String) extends TrackingStore {
    def knownHashes(spark: SparkSession): DataFrame = {
      // existence through Hadoop's FileSystem, so a `file:` or `hdfs://`
      // URI resolves like a plain path does
      val p = new Path(dir)
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        // schema stated: inferring it runs a footer-reading job per batch
        spark.read.schema("file_hash STRING, file_path STRING, file_size BIGINT, " +
          "processed_at TIMESTAMP, output_file STRING, status STRING")
          .parquet(dir).select("file_hash")
      else spark.emptyDataset(Encoders.STRING).toDF("file_hash")
    }
    def upsert(spark: SparkSession, rows: DataFrame): Unit =
      // one file per status and batch: every later batch reads them all
      rows.coalesce(1).select(col("file_hash"), col("file_path"), col("file_size"),
        current_timestamp().as("processed_at"), col("status"), col("output_file"))
        .write.mode("append").partitionBy("status").parquet(dir)
  }

  /** The reference's JDBC tracking table as the store: reads go
    * through `spark.read.jdbc`, writes through the executor-side
    * insert-if-absent batches of [[graft.sources.JdbcTracking.upsert]]
    * (Postgres `ON CONFLICT DO NOTHING` / Derby `MERGE`), which makes
    * the upsert idempotent at the DATABASE, not just via the key pass.
    */
  final case class JdbcTrackingStore(url: String, user: String,
      password: String, dialect: graft.sources.JdbcTracking.SqlDialect)
    extends TrackingStore {
    def knownHashes(spark: SparkSession): DataFrame =
      graft.sources.JdbcTracking.read(spark, url, user, password, dialect)
        .select("file_hash")
    def upsert(spark: SparkSession, rows: DataFrame): Unit =
      graft.sources.JdbcTracking.upsert(rows, url, user, password, dialect)
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
    * `filepipeline.build`, `.reports`, `.chunks`, `.dead_letter`,
    * `.status` or `.tracking`.
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
    val keys = phase(spark, "filepipeline.build") {
      batch.select("file_hash", "file_path")
        .join(tracking.knownHashes(spark).withColumn("tracked", lit(true)),
          Seq("file_hash"), "left_outer")
        .select($"file_hash", $"file_path", $"tracked".isNotNull)
        .as[(String, String, Boolean)].collect()
    }
    val keep = keys.filterNot(_._3)
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
      val ok = processed.filter($"status" === "completed")
      val failed = processed.filter($"status" =!= "completed")

      // S6: reconstructed text, one exact-named file per input
      // (`processed_{filename}`, dags/dag.py:577) — executor-side
      // writer; on a cluster this is a DFS client, locally java.nio.
      // This action builds the cache; it also counts both branches, so
      // a sink whose branch has no row is skipped.
      val completedAcc = spark.sparkContext.longAccumulator
      val failedAcc = spark.sparkContext.longAccumulator
      phase(spark, "filepipeline.build") {
        processed.select($"filename",
          when($"status" === "completed", $"content").as("content"))
          .as[(String, String)]
          .foreachPartition { it: Iterator[(String, String)] =>
            it.foreach {
              case (_, null) => failedAcc.add(1)
              case (name, text) =>
                Files.createDirectories(Paths.get(outDir))
                Files.write(Paths.get(outDir, s"processed_$name"),
                  text.getBytes(StandardCharsets.UTF_8))
                completedAcc.add(1)
            }
          }
      }
      val (nCompleted, nFailed) = (completedAcc.sum, failedAcc.sum)

      if (nCompleted > 0) {
        // S7: per-file DNA report (nested JSON)
        phase(spark, "filepipeline.reports") {
          ok.select($"file_path", $"filename", $"file_hash",
            $"r.original_checksum".as("original_checksum"),
            $"r.reconstructed_checksum".as("reconstructed_checksum"),
            $"r.n_chunks".as("dna_chunks_count"),
            $"r.total_dna_bases".as("total_dna_bases"),
            lit(cfg.chunkSize).as("chunk_size"),
            lit(cfg.errorCorrectionSymbols).as("error_correction_symbols"),
            current_timestamp().as("processed_at"))
            .coalesce(1) // a few hundred bytes a file: one file per batch
            .write.mode("append").json(dirs.reports)
        }

        // S8: per-chunk DNA + metadata sink, partitioned by file hash
        // (`dags/dag.py:540-569`), when a chunks dir is configured.
        if (dirs.chunks.nonEmpty) phase(spark, "filepipeline.chunks") {
          ok.select($"file_hash", explode($"chunks").as("chunk"))
            .select($"file_hash", $"chunk.chunk_id", $"chunk.idx",
              $"chunk.dna_sequence", $"chunk.checksum", $"chunk.ecc_hex",
              $"chunk.chunk_nbytes")
            .write.mode("append").partitionBy("file_hash").json(dirs.chunks)
        }
      }

      // S10: dead-letter sink — error metadata + original payload;
      // dead-letter filename mirrors the reference's
      // `failed_{timestamp}_{filename}` (X19, dags/dag.py:294-296).
      if (nFailed > 0) phase(spark, "filepipeline.dead_letter") {
        failed.select($"file_path", $"filename", $"file_hash", $"file_size",
          $"error_message", $"content".as("payload"),
          format_string("failed_%s_%s",
            date_format(current_timestamp(), "yyyyMMdd_HHmmss"), $"filename")
            .as("dead_letter_file"),
          current_timestamp().as("failed_at"))
          .coalesce(1)
          .write.mode("append").json(dirs.deadLetter)
      }

      // S11/T4: status events, append-only
      phase(spark, "filepipeline.status") {
        processed.select($"file_hash", $"status",
          current_timestamp().as("event_time"))
          .coalesce(1) // a few bytes a file: one parquet file per batch
          .write.mode("append").parquet(dirs.statusEvents)
      }

      // S9: tracking upsert (content-addressed; the key pass above plus
      // the store's own insert-if-absent keep ON CONFLICT DO NOTHING
      // semantics) through the pluggable store. Last, so that a batch
      // that dies before it is replayed whole.
      phase(spark, "filepipeline.tracking") {
        tracking.upsert(spark,
          processed.select($"file_hash", $"file_path", $"file_size", $"status",
            when($"status" === "completed",
              concat(lit("processed_"), $"filename")).as("output_file")))
      }
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
