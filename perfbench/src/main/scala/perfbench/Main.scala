package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.codec.{DnaCodec, Goldman, ReedSolomon, Trits, Utf8Chunker}
import graft.functions.DnaFunctions
import graft.streaming.FilePipeline

/** JVM side of the benchmark: drives the program through its public entry
  * points (`FilePipeline.run`, `SparkEntry.queries`, the codec objects) and
  * writes `result.json` into the run directory for `run.py` to check and
  * report.
  *
  * Args: workload seconds trace runDir dataDir startEpochMs genCpuS cpus
  * chunk nsym maxFileBytes. The last three are the pipeline configuration
  * of `gen.PARAMS`; `genCpuS` is the CPU time `run.py` spent generating
  * the inputs.
  */
object Main {
  /** Lifecycle declared queries on the LSH and lexical stored families:
    * each clones, appends to, tombstones or compacts a stored layout and
    * cuts over, then probes it.
    */
  val MaintainQueries = Seq(
    "sim_ann_lsh_versioned", "txt_bm25_topk_purged")

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, runDir, dataDir, startMs, genCpuS, cpus,
      chunk, nsym, maxFileBytes) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = new Ledger(spark)
    spark.sparkContext.addSparkListener(ledger)
    val out = new Result(trace, startMs.toLong, genCpuS.toDouble)
    try {
      workload match {
        case "ingest" =>
          val cfg = FilePipeline.Config(chunkSize = chunk.toInt,
            errorCorrectionSymbols = nsym.toInt, maxFileBytes = maxFileBytes.toLong)
          new Ingest(spark, ledger, out, runDir, dataDir, cfg, seconds).run()
        case "maintain" => new Maintain(spark, ledger, out, runDir, dataDir, seconds).run()
        case other => sys.error(s"unknown workload $other")
      }
      if (trace) ledger.engineMetrics(out)
      Files.writeString(Paths.get(runDir, "result.json"), out.json)
      if (trace) Files.writeString(Paths.get(runDir, "trace.json"), ledger.spansJson)
    } finally spark.stop()
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** A JSON string literal: quotes, backslashes and control characters escaped. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM, JIT and GC included, in ns.
    * Unlike wall time it does not count the time the host takes the CPU
    * away (steal). The JIT's own elapsed-time counter is not subtracted:
    * it grows with contention, which made the difference read 4x better
    * on a loaded machine.
    */
  def cpuNs(): Long = os.getProcessCpuTime

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of each live Java thread, in ns, by thread id. */
  def javaCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 > 0).toMap

  /** CPU time the Java threads use while `body` runs, in ns, with its result.
    * The JIT compiler and the garbage collector run in threads of the JVM's
    * own, which are not Java threads and are not counted. Threads that end
    * inside `body` (a streaming query's execution thread does) are counted
    * up to their last reading: a sampler reads every thread each 10 ms.
    */
  def javaCpuOf[T](body: => T): (T, Long) = {
    val start = javaCpu()
    val last = mutable.Map.empty[Long, Long] ++= start
    @volatile var running = true
    def sample(): Unit = { val now = javaCpu(); last.synchronized(last ++= now) }
    val sampler = new Thread(() => while (running) { sample(); Thread.sleep(10) }, "perfbench-cpu")
    sampler.setDaemon(true)
    sampler.start()
    val result = try body finally { running = false; sampler.join() }
    sample()
    val used = last.iterator.collect {
      case (id, t) if id != sampler.getId => t - start.getOrElse(id, 0L)
    }.filter(_ > 0).sum
    (result, used)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Bytes and directories under `roots`, walked recursively. */
  def treeSize(roots: Seq[Path]): (Long, Int) = {
    var bytes = 0L
    var dirs = 0
    roots.filter(Files.exists(_)).foreach { r =>
      val it = Files.walk(r).iterator().asScala
      it.foreach { p =>
        if (Files.isDirectory(p)) dirs += 1 else bytes += Files.size(p)
      }
    }
    (bytes, dirs)
  }
}

/** What the run reports: operation counts, metrics and check inputs. */
final class Result(val trace: Boolean, startMs: Long, genCpuS: Double) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String] // raw JSON values
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Called just before the first timed operation. `setup_s` is the CPU
    * time of the set-up: input generation in `run.py` plus every thread of
    * this JVM since it started. `wall.setup_s` is the wall time since
    * `run.py` started the set-up.
    */
  def setupDone(): Unit = {
    metric("setup_s", genCpuS + Main.cpuNs() / 1e9, "s")
    metric("wall.setup_s", (System.currentTimeMillis() - startMs) / 1e3, "s")
  }

  def json: String = {
    import Main.jsonString
    val m = metrics.map { case (k, (v, u)) => s"${jsonString(k)}: {\"value\": $v, \"unit\": ${jsonString(u)}}" }
    val i = info.map { case (k, v) => s"${jsonString(k)}: $v" }
    s"""{"attempted": $attempted, "failed": $failed, "errors": [${errors.map(jsonString).mkString(", ")}],
       |"metrics": {${m.mkString(", ")}},
       |"info": {${i.mkString(", ")}}}""".stripMargin
  }
}

/** Spark listener: per-job and per-task counters, attributed to the
  * workload operation named by the `perfbench.op` local property.
  */
final class Ledger(spark: SparkSession) extends SparkListener {
  final case class Job(id: Int, op: String, start: Long, var end: Long = -1L,
      var tasks: Int = 0, var cpuNs: Long = 0, var runMs: Long = 0, var gcMs: Long = 0,
      var inBytes: Long = 0, var shuffleW: Long = 0, var spill: Long = 0, var outBytes: Long = 0,
      taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)
  final case class Span(name: String, parent: String, start: Long, end: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  val spans = mutable.ArrayBuffer.empty[Span]

  def op[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans.synchronized(spans += Span(name, "", t0, System.currentTimeMillis()))
      sc.setLocalProperty("perfbench.op", null)
    }
  }

  /** Listener events arrive asynchronously and in order: run one marker job
    * and wait for its end, so every earlier job's counters are in.
    */
  def fence(): Unit = {
    op("fence")(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30e9.toLong
    while (!synchronized(jobs.values.exists(j => j.op == "fence" && j.end >= 0)) &&
        System.nanoTime() < deadline) Thread.sleep(10)
  }

  def span(name: String, parent: String, start: Long, end: Long): Unit =
    spans.synchronized(spans += Span(name, parent, start, end))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, op, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); if m != null) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.inBytes += m.inputMetrics.bytesRead
      j.shuffleW += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outBytes += m.outputMetrics.bytesWritten
      j.taskMs += m.executorRunTime
    }
  }

  def jobsOf(ops: String => Boolean): Seq[Job] = synchronized(jobs.values.filter(j => ops(j.op)).toSeq)

  /** Wall time of the spans matching `ops` that no job of theirs covers. */
  def outsideJobsMs(ops: String => Boolean): Double = synchronized {
    spans.filter(s => s.parent.isEmpty && ops(s.name)).map { s =>
      val iv = jobs.values.filter(j => j.op == s.name && j.end >= 0)
        .map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
        .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
      var covered = 0L
      var cur = (-1L, -1L)
      iv.foreach { case (a, b) =>
        if (a > cur._2) { covered += cur._2 - cur._1; cur = (a, b) }
        else cur = (cur._1, math.max(cur._2, b))
      }
      covered += cur._2 - cur._1
      (s.end - s.start - covered).toDouble
    }.sum
  }

  var timedOps: String => Boolean = _ => false

  def engineMetrics(out: Result): Unit = {
    val js = jobsOf(timedOps)
    out.metric("spark.jobs", js.size, "count")
    out.metric("spark.tasks", js.map(_.tasks).sum, "count")
    out.metric("spark.executor_cpu_s", js.map(_.cpuNs).sum / 1e9, "s")
    out.metric("spark.executor_run_s", js.map(_.runMs).sum / 1e3, "s")
    out.metric("spark.gc_s", js.map(_.gcMs).sum / 1e3, "s")
    out.metric("spark.outside_jobs_s", outsideJobsMs(timedOps) / 1e3, "s")
    out.metric("spark.input_mb", js.map(_.inBytes).sum / 1e6, "MB")
    out.metric("spark.shuffle_write_mb", js.map(_.shuffleW).sum / 1e6, "MB")
    out.metric("spark.spill_mb", js.map(_.spill).sum / 1e6, "MB")
    out.metric("spark.output_mb", js.map(_.outBytes).sum / 1e6, "MB")
  }

  def spansJson: String = synchronized {
    val all = spans.map(s => (s.name, s.parent, s.start, s.end)) ++
      jobs.values.map(j => (s"job ${j.id}", j.op, j.start, j.end))
    all.map { case (n, p, a, b) =>
      s"""{"name": ${Main.jsonString(n)}, "parent": ${Main.jsonString(p)}, "start_ms": $a, "end_ms": $b}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** The paper's own job: `FilePipeline.run` with `Trigger.AvailableNow`
  * over one backlog wave, then a fixed count of small waves.
  */
final class Ingest(spark: SparkSession, ledger: Ledger, out: Result, runDir: String,
    genDir: String, cfg: FilePipeline.Config, seconds: Double) {
  import Main._

  private val root = s"$runDir/pipe"
  private val dirs = FilePipeline.Dirs(
    input = s"$root/input", output = s"$root/output", reports = s"$root/reports",
    tracking = s"$root/tracking", deadLetter = s"$root/dead_letter",
    statusEvents = s"$root/status_events", checkpoint = s"$root/checkpoint",
    chunks = s"$root/chunks")

  /** Progress events of the query currently draining. */
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.synchronized {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress += ((System.currentTimeMillis(), d))
    }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def land(wave: String): Unit = {
    Files.createDirectories(Paths.get(dirs.input))
    Files.list(Paths.get(genDir, wave)).iterator().asScala.toSeq.sortBy(_.toString).foreach { p =>
      Files.move(p, Paths.get(dirs.input, p.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** One AvailableNow drain; returns (wall ms from the run call, ms to first progress). */
  private def drain(d: FilePipeline.Dirs): (Double, Double) = {
    progress.synchronized(progress.clear())
    val t0 = System.nanoTime()
    val c0 = System.currentTimeMillis()
    val q = FilePipeline.run(spark, d, cfg)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val wall = ms(t0)
    val first = progress.synchronized(progress.headOption.map(_._1 - c0).getOrElse(0L))
    (wall, first.toDouble)
  }

  def run(): Unit = {
    spark.streams.addListener(listener)
    // warm-up: a pipeline of its own over copies of two of the first wave's
    // new files, so timed drains do not pay class loading and codegen
    val warm = s"$runDir/warm"
    val warmDirs = dirs.copy(input = s"$warm/input", output = s"$warm/output",
      reports = s"$warm/reports", tracking = s"$warm/tracking", deadLetter = s"$warm/dead_letter",
      statusEvents = s"$warm/status_events", checkpoint = s"$warm/checkpoint", chunks = s"$warm/chunks")
    Files.createDirectories(Paths.get(warmDirs.input))
    val warmFiles = Files.list(Paths.get(genDir, "wave_000")).iterator().asScala.toSeq
      .sortBy(_.toString).take(2)
    warmFiles.foreach(p => Files.copy(p, Paths.get(warmDirs.input, "warm_" + p.getFileName)))
    drain(warmDirs)
    land("backlog")
    // the bytes the drain encodes: oversize files are dead-lettered unread
    val backlogBytes = Files.list(Paths.get(dirs.input)).iterator().asScala
      .map(Files.size(_)).filter(_ <= cfg.maxFileBytes).sum
    val inMb = backlogBytes / 1e6
    out.setupDone()

    val streamRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    def recordStream(first: Double): Unit = {
      val ps = progress.synchronized(progress.toList)
      def sum(k: String) = ps.map(_._2.getOrElse(k, 0L)).sum.toDouble
      streamRows += Map("batches" -> ps.size.toDouble, "start_ms" -> first,
        "add_batch_ms" -> sum("addBatch"), "latest_offset_ms" -> sum("latestOffset"),
        "query_planning_ms" -> sum("queryPlanning"), "wal_commit_ms" -> sum("walCommit"))
    }
    val knownMs = mutable.ArrayBuffer.empty[Double]
    var trackingRows = 0L
    def probeTracking(): Unit = if (out.trace) {
      val t0 = System.nanoTime()
      trackingRows = FilePipeline.ParquetTracking(dirs.tracking).knownHashes(spark).count()
      knownMs += ms(t0)
    }

    // backlog wave: one operation, timed from the run call to drain end
    out.attempted += 1
    val ((backlogMs, backlogFirst), backlogCpu) = javaCpuOf(ledger.op("backlog")(drain(dirs)))
    val backlogCpuS = backlogCpu / 1e9
    recordStream(backlogFirst)
    probeTracking()
    out.metric("wall.mb_s", inMb / (backlogMs / 1e3), "MB/s")

    // small waves: a fixed count set by the run length
    val cycles = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val procs = mutable.ArrayBuffer.empty[Double]
    val generated = Files.list(Paths.get(genDir)).iterator().asScala
      .count(_.getFileName.toString.startsWith("wave_"))
    val nWaves = math.min(generated, math.max(4, math.ceil(seconds / 3).toInt))
    for (w <- 0 until nWaves) {
      val wave = f"wave_$w%03d"
      out.attempted += 1
      val c0 = cpuNs()
      val ((cyc, first), cpu) = javaCpuOf {
        land(wave)
        ledger.op(wave)(drain(dirs))
      }
      procs += (cpuNs() - c0) / 1e6
      cycles += cyc
      cpus += cpu / 1e6
      recordStream(first)
      probeTracking()
    }
    out.info("waves_landed") = nWaves.toString
    out.info("cycles_ms") = cycles.map(c => f"$c%.0f").mkString("[", ", ", "]")
    out.info("cycles_cpu_ms") = cpus.map(c => f"$c%.0f").mkString("[", ", ", "]")
    out.info("cycles_process_cpu_ms") = procs.map(c => f"$c%.0f").mkString("[", ", ", "]")
    out.metric("cpu_p50_ms", median(cpus.toSeq), "ms")
    out.metric("cpu_mb_s", inMb / backlogCpuS, "MB/s")
    out.metric("wall.p50_ms", median(cycles.toSeq), "ms")
    val sinks = Seq(dirs.output, dirs.reports, dirs.chunks, dirs.deadLetter, dirs.tracking,
      dirs.statusEvents).map(Paths.get(_))
    out.metric("out_mb", treeSize(sinks)._1 / 1e6, "MB")
    ledger.timedOps = op => op == "backlog" || op.startsWith("wave_")
    ledger.fence()

    if (out.trace) {
      val s = streamRows.toSeq
      val small = s.drop(1)
      out.metric("streaming.batches", s.map(_("batches")).sum, "count")
      for (k <- Seq("start_ms", "add_batch_ms", "latest_offset_ms", "query_planning_ms", "wal_commit_ms"))
        out.metric(s"streaming.$k", median(small.map(_(k))), "ms")
      out.metric("streaming.backlog_add_batch_ms", s.head("add_batch_ms"), "ms")
      out.metric("sources.known_hashes_ms", median(knownMs.toSeq), "ms")
      out.metric("sources.tracking_rows", trackingRows.toDouble, "count")
      sinkJobs()
      kernels()
    }
  }

  /** FilePipeline's jobs in the backlog batch. Every job of a micro-batch
    * reports the same call site, so they are told apart by executor time:
    * the two heaviest are the encode passes, in job order the output-file
    * writer (which computes `dna_process`) and the chunk sink (which encodes
    * again through `dna_chunks`); everything else is bookkeeping.
    */
  private def sinkJobs(): Unit = {
    val backlog = ledger.jobsOf(_ == "backlog")
    val waves = ledger.jobsOf(_.startsWith("wave_"))
    val nWaves = waves.map(_.op).distinct.size
    out.metric("filepipeline.jobs_per_batch", if (nWaves == 0) 0 else waves.size.toDouble / nWaves, "count")
    val heavy = backlog.sortBy(j => -j.runMs).take(2).sortBy(_.id)
    def secs(j: ledger.Job) = (j.end - j.start) / 1e3
    val process = heavy.headOption
    val chunks = heavy.drop(1).headOption
    out.metric("filepipeline.process_job_s", process.map(secs).getOrElse(0.0), "s")
    out.metric("filepipeline.chunks_job_s", chunks.map(secs).getOrElse(0.0), "s")
    out.metric("filepipeline.other_jobs_s",
      backlog.filterNot(heavy.contains).map(secs).sum, "s")
    out.metric("filepipeline.encode_tasks", process.map(_.tasks.toDouble).getOrElse(0.0), "count")
    val encTasks = process.map(_.taskMs.toSeq.map(_.toDouble)).getOrElse(Nil)
    out.metric("filepipeline.encode_task_skew",
      if (encTasks.isEmpty || median(encTasks) == 0) 0 else encTasks.max / median(encTasks), "ratio")
    out.info("backlog_jobs") = backlog.map(j => s"[${j.id}, ${j.end - j.start}, ${j.tasks}]").mkString("[", ", ", "]")
  }

  /** Kernel ledger over the files the run processed: each codec kernel on one
    * thread, then the same texts through `dna_process` and `dna_chunks` on a
    * one-partition DataFrame (one task thread).
    */
  private def kernels(): Unit = {
    val texts = Files.list(Paths.get(dirs.output)).iterator().asScala.toSeq.sortBy(_.toString)
      .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    val mb = texts.map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum / 1e6
    val (chunk, nsym) = (cfg.chunkSize, cfg.errorCorrectionSymbols)
    val chunks = texts.flatMap(Utf8Chunker.chunkBytes(_, chunk))
    val dnas = chunks.map(Goldman.bytesToDna)
    def rate(name: String)(body: => Unit): Unit = {
      val c0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      body
      val sec = (System.nanoTime() - t0) / 1e9
      ledger.span(name, "kernels", c0, System.currentTimeMillis())
      out.metric(name, mb / sec, "MB/s")
    }
    var sink = 0L
    rate("codec.chunk_mb_s")(texts.foreach(t => sink += Utf8Chunker.chunkBytes(t, chunk).size))
    rate("codec.trits_mb_s")(chunks.foreach(c => sink += Trits.bytesToTrits(c).length))
    rate("codec.goldman_encode_mb_s")(chunks.foreach(c => sink += Goldman.bytesToDna(c).length))
    rate("codec.goldman_decode_mb_s")(chunks.zip(dnas).foreach { case (c, d) =>
      sink += Goldman.dnaToBytes(d, c.length).length })
    rate("codec.rs_parity_mb_s")(chunks.foreach(c => sink += ReedSolomon.parity(c, nsym).length))
    rate("codec.md5_mb_s")(chunks.foreach(c => sink += DnaCodec.md5Hex(c).length))
    rate("codec.process_text_mb_s")(texts.foreach(t =>
      sink += DnaCodec.processText(t, chunk, nsym).totalDnaBases))
    import spark.implicits._
    val df = texts.toDF("content").coalesce(1).cache()
    df.count()
    rate("plans.dna_process_mb_s")(sink += df.select(
      DnaFunctions.dnaProcessNative(spark, chunk, nsym)($"content").as("r"))
      .agg(sum($"r.total_dna_bases")).head().getLong(0))
    rate("functions.dna_chunks_mb_s")(sink += df.select(
      explode(DnaFunctions.dnaChunks(chunk, nsym)($"content")).as("c"))
      .agg(sum(length($"c.dna_sequence"))).head().getLong(0))
    df.unpersist()
    out.info("kernel_mb") = mb.toString
    out.info("kernel_sink") = sink.toString
  }
}

/** A warm session repeating a fixed round-robin of lifecycle declared
  * queries; the first, untimed pass builds the stored base layouts.
  */
final class Maintain(spark: SparkSession, ledger: Ledger, out: Result, runDir: String,
    dataDir: String, seconds: Double) {
  import Main._

  private val names = MaintainQueries

  private def storedRoots(): Seq[Path] =
    Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_stored_")).toSeq

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def run(): Unit = {
    out.info("queries") = names.map("\"" + _ + "\"").mkString("[", ", ", "]")
    val fns = names.map(n => n -> SparkEntry.queries(n))
    // untimed first pass: builds the stored layouts; every later call must
    // return the rows this pass returned. Two more untimed passes warm the
    // JIT: after one, timed passes still sped up 1.5x in turn, and after
    // two, the third timed pass was still 10 to 15 % below the first.
    val expected = fns.map { case (n, f) =>
      n -> canon(ledger.op(s"setup:$n")(f(spark, dataDir).collect()))
    }.toMap
    for (_ <- 1 to 2; (n, f) <- fns) {
      if (canon(ledger.op(s"warm:$n")(f(spark, dataDir).collect())) != expected(n))
        out.errors += s"$n: warm-up pass returned other rows than the set-up pass"
    }
    out.setupDone()

    val lat = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val cpu = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val first = mutable.Map.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]
    var cachedFirst = 0.0
    // a fixed count of passes set by the run length
    val passes = math.max(4, math.ceil(seconds / 3).toInt)
    for (pass <- 0 until passes) {
      fns.foreach { case (n, f) =>
        out.attempted += 1
        val ((schema, rows, wall), used) = javaCpuOf {
          val t0 = System.nanoTime()
          val (schema, rows) = ledger.op(n) {
            val df = f(spark, dataDir)
            (df.schema, df.collect())
          }
          (schema, rows, ms(t0))
        }
        lat(n) += wall
        cpu(n) += used / 1e6
        if (pass == 0) first(n) = (schema, rows)
        if (canon(rows) != expected(n)) {
          out.failed += 1
          out.errors += s"$n: timed pass ${pass + 1} returned other rows than the set-up pass"
        }
      }
      if (pass == 0) cachedFirst = cachedMb()
    }
    // median over the queries of each query's median: one slow pass moves
    // every query's sample at once, and the per-query median absorbs it
    out.metric("wall.p50_ms", median(lat.values.map(xs => median(xs.toSeq)).toSeq), "ms")
    val all = lat.values.flatten.toSeq
    out.metric("cpu_p50_ms", median(cpu.values.map(xs => median(xs.toSeq)).toSeq), "ms")
    ledger.timedOps = op => names.contains(op)
    ledger.fence()
    // a fixed amount of work: one pass over the generated tables per timed
    // pass, whatever the queries choose to read of them
    val tables = Files.list(Paths.get(dataDir)).iterator().asScala.toSeq
    val workMb = passes * treeSize(tables)._1 / 1e6
    out.metric("wall.mb_s", workMb / (all.sum / 1e3), "MB/s")
    out.metric("cpu_mb_s", workMb / (cpu.values.flatten.sum / 1e3), "MB/s")

    val (storedBytes, storedDirs) = treeSize(storedRoots())
    out.metric("out_mb", storedBytes / 1e6, "MB")
    out.info("passes") = passes.toString
    out.info("latency_ms") = lat.map { case (n, xs) =>
      s""""$n": ${xs.map(x => f"$x%.0f").mkString("[", ", ", "]")}""" }.mkString("{", ", ", "}")
    out.info("cpu_ms") = cpu.map { case (n, xs) =>
      s""""$n": ${xs.map(x => f"$x%.0f").mkString("[", ", ", "]")}""" }.mkString("{", ", ", "}")
    if (out.trace) {
      lat.foreach { case (n, xs) => out.metric(s"maintain.$n.ms", median(xs.toSeq), "ms") }
      out.metric("operators.cached_mb_first", cachedFirst, "MB")
      out.metric("operators.cached_mb_end", cachedMb(), "MB")
      out.metric("sources.stored_mb_end", storedBytes / 1e6, "MB")
      out.metric("sources.stored_dirs_end", storedDirs.toDouble, "count")
    }
    // results of the first timed pass, for the DuckDB compare in run.py
    first.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$runDir/results/$n")
    }
    val statics = SparkEntry.oracleSql
    val dyn = if (names.forall(statics.contains)) Map.empty[String, String]
      else SparkEntry.dynamicOracleSql(spark, dataDir)
    val oracle = (statics ++ dyn).filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(runDir, "results", "oracle_sql.json"),
      oracle.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",\n", "}"))
  }

  private def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}
