package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline semantics (SURVEY.md §5.2(3–4)): roundtrip
  * identity on the reference's own sample corpus, dedup idempotence
  * across runs (content-hash, not path), dead-letter routing, and the
  * latest-wins status view.
  */
class FilePipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Golden corpus = the reference repo's sample inputs (data, not
    * code): exercises sub-chunk files, multi-byte UTF-8 (`éàçùñ`, em
    * dash) and multi-chunk sizes. Copied into the test's input dir.
    */
  private val goldenDir = Paths.get("/root/reference/data/input")

  private def freshDirs(): FilePipeline.Dirs = {
    val root = Files.createTempDirectory("graft-pipe")
    def p(n: String) = root.resolve(n).toString
    FilePipeline.Dirs(p("input"), p("output"), p("reports"), p("tracking"),
      p("dead"), p("status"), p("checkpoint"))
  }

  private def copyGolden(input: String): Seq[Path] = {
    Files.createDirectories(Paths.get(input))
    val files = Files.list(goldenDir).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".txt")).toSeq
    files.map(f => Files.copy(f, Paths.get(input, f.getFileName.toString)))
  }

  test("streaming run: every golden file roundtrips byte-identically") {
    val dirs = freshDirs()
    val inputs = copyGolden(dirs.input)
    assert(inputs.nonEmpty)

    val q = FilePipeline.run(spark, dirs,
      FilePipeline.Config(chunkSize = 64, errorCorrectionSymbols = 4))
    q.awaitTermination()

    inputs.foreach { in =>
      val out = Paths.get(dirs.output, s"processed_${in.getFileName}")
      assert(Files.exists(out), s"missing $out")
      assert(java.util.Arrays.equals(Files.readAllBytes(in), Files.readAllBytes(out)),
        s"roundtrip mismatch for ${in.getFileName}")
    }
    val tracked = spark.read.parquet(dirs.tracking)
    assert(tracked.count() == inputs.size)
    assert(tracked.filter("status = 'completed'").count() == inputs.size)
    val reports = spark.read.json(dirs.reports)
    assert(reports.count() == inputs.size)
    assert(reports.filter("original_checksum <> reconstructed_checksum").count() == 0)
  }

  test("ProcessingTime daemon: batch 2 dedups against batch 1 hashes without restarting") {
    import org.apache.spark.sql.streaming.Trigger
    // the reference's deployment shape is a 30-minute cron cadence
    // (dags/dag.py:39-40); the daemon equivalent is one long-lived
    // query on Trigger.ProcessingTime, where each file drop becomes
    // its own micro-batch and dedup must hold ACROSS micro-batches
    val dirs = freshDirs()
    Files.createDirectories(Paths.get(dirs.input))
    Files.write(Paths.get(dirs.input, "first.txt"),
      "daemon batch one".getBytes(StandardCharsets.UTF_8))
    val q = FilePipeline.run(spark, dirs,
      FilePipeline.Config(chunkSize = 64, errorCorrectionSymbols = 4),
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable()
      assert(Files.exists(Paths.get(dirs.output, "processed_first.txt")))
      assert(spark.read.parquet(dirs.tracking).count() == 1)

      // second drop while the daemon stays up: a renamed duplicate of
      // batch 1's content plus a genuinely new file
      Files.write(Paths.get(dirs.input, "dup_of_first.txt"),
        "daemon batch one".getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(dirs.input, "second.txt"),
        "daemon batch two".getBytes(StandardCharsets.UTF_8))
      q.processAllAvailable()

      val t = spark.read.parquet(dirs.tracking)
      assert(t.count() == 2, "duplicate content must not re-track in a later micro-batch")
      assert(!Files.exists(Paths.get(dirs.output, "processed_dup_of_first.txt")))
      assert(Files.exists(Paths.get(dirs.output, "processed_second.txt")))
      // and this really was multi-batch daemon execution, not one drain
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    } finally q.stop()
  }

  test("second run is a no-op; renamed duplicate content is skipped (content-hash dedup)") {
    val dirs = freshDirs()
    copyGolden(dirs.input)
    FilePipeline.runBatch(spark, dirs)
    val n1 = spark.read.parquet(dirs.tracking).count()

    // same content under a NEW path + one genuinely new file
    val dup = Files.list(goldenDir).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".txt")).head
    Files.copy(dup, Paths.get(dirs.input, "renamed_copy.txt"))
    Files.write(Paths.get(dirs.input, "brand_new.txt"),
      "never seen before".getBytes(StandardCharsets.UTF_8))

    FilePipeline.runBatch(spark, dirs)
    val t = spark.read.parquet(dirs.tracking)
    // only brand_new.txt got a new tracking row; the renamed copy did not
    assert(t.count() == n1 + 1)
    assert(!Files.exists(Paths.get(dirs.output, "processed_renamed_copy.txt")))
    assert(Files.exists(Paths.get(dirs.output, "processed_brand_new.txt")))
  }

  test("a tracking dir given as a file: URI keeps its history across runs") {
    val plain = freshDirs()
    val dirs = plain.copy(tracking = s"file:${plain.tracking}")
    Files.createDirectories(Paths.get(dirs.input))
    Files.write(Paths.get(dirs.input, "a.txt"), "alpha".getBytes)
    Files.write(Paths.get(dirs.input, "b.txt"), "beta".getBytes)
    def rows(): (Long, Long) = (spark.read.json(dirs.reports).count(),
      spark.read.parquet(dirs.tracking).count())
    FilePipeline.runBatch(spark, dirs)
    assert(rows() == ((2L, 2L)))
    // the second run must see the first run's hashes: no new report or
    // tracking row
    FilePipeline.runBatch(spark, dirs)
    assert(rows() == ((2L, 2L)))
  }

  test("an output dir given as a file: URI receives the processed files") {
    val plain = freshDirs()
    val dirs = plain.copy(output = s"file:${plain.output}")
    Files.createDirectories(Paths.get(dirs.input))
    Files.write(Paths.get(dirs.input, "a.txt"), "alpha".getBytes)
    FilePipeline.runBatch(spark, dirs)
    val out = Paths.get(plain.output, "processed_a.txt")
    assert(Files.exists(out), s"missing $out")
    assert(new String(Files.readAllBytes(out), StandardCharsets.UTF_8) == "alpha")
    // a scheme the executors' local writer cannot honour is refused
    // up front, naming the dir
    val e = intercept[IllegalArgumentException](
      FilePipeline.runBatch(spark, plain.copy(output = "hdfs:///out")))
    assert(e.getMessage.contains("hdfs:///out"))
  }

  test("oversize files route to the dead-letter sink with error metadata") {
    val dirs = freshDirs()
    Files.createDirectories(Paths.get(dirs.input))
    Files.write(Paths.get(dirs.input, "ok.txt"), "small".getBytes)
    Files.write(Paths.get(dirs.input, "big.txt"), ("x" * 4096).getBytes)

    FilePipeline.runBatch(spark, dirs, FilePipeline.Config(maxFileBytes = 1024))
    val dead = spark.read.json(dirs.deadLetter)
    assert(dead.count() == 1)
    val row = dead.select("filename", "error_message").collect().head
    assert(row.getString(0) == "big.txt")
    assert(row.getString(1).contains("maxFileBytes"))
    // failed files are tracked (status=failed) and never written to output
    assert(spark.read.parquet(dirs.tracking).filter("status = 'failed'").count() == 1)
    assert(!Files.exists(Paths.get(dirs.output, "processed_big.txt")))
    assert(Files.exists(Paths.get(dirs.output, "processed_ok.txt")))
  }

  test("chunk+meta sink writes per-chunk records partitioned by file hash") {
    val dirs0 = freshDirs()
    val dirs = dirs0.copy(chunks =
      Paths.get(dirs0.checkpoint).getParent.resolve("chunks").toString)
    Files.createDirectories(Paths.get(dirs.input))
    Files.write(Paths.get(dirs.input, "a.txt"), ("z" * 200).getBytes)
    FilePipeline.runBatch(spark, dirs, FilePipeline.Config(chunkSize = 64))
    val chunks = spark.read.json(dirs.chunks)
    assert(chunks.count() == 4) // ceil(200/64)
    assert(chunks.select("file_hash").distinct().count() == 1)
    assert(chunks.columns.toSet.contains("dna_sequence"))
  }

  private def chunkDirs(): FilePipeline.Dirs = {
    val dirs = freshDirs()
    dirs.copy(chunks = Paths.get(dirs.checkpoint).getParent.resolve("chunks").toString)
  }

  /** A wave of mixed UTF-8 (1- to 4-byte code points), from one chunk
    * to many at chunk size 64; returns the file texts. Waves of
    * different seeds hold different content under different names.
    */
  private def mixedUtf8Wave(input: String, seed: Int = 17): Seq[String] = {
    Files.createDirectories(Paths.get(input))
    val pieces = Seq("ascii words ", "é", "àçùñ ", "—", "中文", "😀", "\n")
    val rnd = new scala.util.Random(seed)
    val texts = Seq.tabulate(10)(i =>
      s"seed $seed " +
        Seq.fill(1 + rnd.nextInt(30 * (i + 1)))(pieces(rnd.nextInt(pieces.size))).mkString)
    texts.zipWithIndex.foreach { case (t, i) =>
      Files.write(Paths.get(input, s"wave_${seed}_$i.txt"), t.getBytes(StandardCharsets.UTF_8))
    }
    texts
  }

  test("chunk sink rows equal createDnaChunks of their file, field for field") {
    import spark.implicits._
    import graft.codec.DnaCodec
    val dirs = chunkDirs()
    val cfg = FilePipeline.Config(chunkSize = 64, errorCorrectionSymbols = 4)
    // a first batch, then a later one read against its tracking table
    val texts = Seq(17, 18).flatMap { seed =>
      val t = mixedUtf8Wave(dirs.input, seed)
      FilePipeline.runBatch(spark, dirs, cfg)
      t
    }
    val written = spark.read
      .schema("file_hash STRING, chunk_id STRING, idx INT, chunk_nbytes INT, " +
        "checksum STRING, dna_sequence STRING, ecc_hex STRING")
      .json(dirs.chunks)
      .select("file_hash", "chunk_id", "idx", "chunk_nbytes", "checksum",
        "dna_sequence", "ecc_hex")
      .as[(String, String, Int, Int, String, String, String)].collect().toSeq
    val expected = texts.flatMap { t =>
      DnaCodec.createDnaChunks(t, 64, 4).map(c => (DnaCodec.md5HexUtf8(t), c.chunkId,
        c.index, c.originalLengthBytes, c.checksum, c.dnaSequence,
        c.errorCorrectionCode.map(b => f"${b & 0xff}%02x").mkString))
    }
    assert(expected.map(_._1).distinct.size == texts.size)
    assert(expected.size > 2 * texts.size) // multi-chunk files are in the wave
    assert(written.sorted == expected.sorted)
  }

  test("a batch evaluates the codec in exactly one plan") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def isCodec(e: Expression): Boolean =
      e.isInstanceOf[graft.plans.DnaProcess] || e.isInstanceOf[ScalaUDF]
    def evaluates(p: LogicalPlan): Boolean = p.exists(_.expressions.exists(_.exists(isCodec)))
    object physical extends AdaptiveSparkPlanHelper
    def codecCalls(p: SparkPlan): Int = physical.collect(p) {
      case node => node.expressions.map(_.collect { case e if isCodec(e) => e }.size).sum
    }.sum
    def cachedEvaluates(p: SparkPlan): Boolean = codecCalls(p) > 0
    val dirs = chunkDirs()
    // the first batch, then a later one whose key pass checks its
    // hashes against the tracking table the first one wrote
    for (seed <- Seq(17, 18)) {
      mixedUtf8Wave(dirs.input, seed)
      plans.clear()
      spark.listenerManager.register(listener)
      try {
        FilePipeline.runBatch(spark, dirs,
          FilePipeline.Config(chunkSize = 64, errorCorrectionSymbols = 4))
        // listener events arrive asynchronously, in order: wait for a marker query
        spark.range(1).toDF("plan_fence").collect()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!plans.asScala.exists(_.output.exists(_.name == "plan_fence")) &&
            System.nanoTime() < deadline) Thread.sleep(50)
      } finally spark.listenerManager.unregister(listener)
      // a plan evaluates the codec if it calls it itself, or reads a cached
      // relation that calls it and that no earlier plan has built
      val built = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
      val evaluating = plans.asScala.toSeq.filter { p =>
        val builds = p.collect {
          case r: InMemoryRelation if cachedEvaluates(r.cachedPlan) => r.cachedPlan
        }.filter(built.add)
        evaluates(p) || builds.nonEmpty
      }
      // the key pass, the build and the chunk sink (plus the fence)
      assert(plans.size >= 3, plans.asScala.mkString("\n"))
      assert(evaluating.size == 1, s"seed $seed:\n" + evaluating.mkString("\n---\n"))
      // and that plan calls it once per row
      assert(built.asScala.toSeq.map(codecCalls) == Seq(1), built)
    }
  }

  /** Jobs started while `body` runs, as (phase, description), and the
    * shuffle bytes their tasks wrote. Listener events arrive
    * asynchronously, in order: a marker job is waited for, so every
    * earlier job and task is in.
    */
  private def jobsDuring(body: => Unit): (Seq[(Option[String], String)], Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.properties)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("test.fence", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("test.fence", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.asScala.exists(_.getProperty("test.fence") != null) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    (jobs.asScala.toSeq.filter(_.getProperty("test.fence") == null).map(p =>
      (Option(p.getProperty(FilePipeline.PhaseProperty)),
        Option(p.getProperty("spark.job.description")).getOrElse(""))),
      shuffled.get)
  }

  private def sinkFiles(dirs: FilePipeline.Dirs): Seq[String] =
    Seq(dirs.output, dirs.reports, dirs.chunks, dirs.deadLetter, dirs.statusEvents,
      dirs.tracking).map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
      Files.walk(d).toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
        .map(_.toString)
    }.sorted

  test("a later small batch runs at most 3 jobs and shuffles nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val dirs = chunkDirs()
    val cfg = FilePipeline.Config(chunkSize = 64, errorCorrectionSymbols = 4)
    def small(names: String*): Unit = names.foreach(n => Files.write(
      Paths.get(dirs.input, s"$n.txt"), s"small file $n".getBytes(StandardCharsets.UTF_8)))
    def drain(): Unit =
      FilePipeline.run(spark, dirs, cfg, Trigger.AvailableNow()).awaitTermination()
    Files.createDirectories(Paths.get(dirs.input))
    small("a", "b")
    drain()
    assert(Files.exists(Paths.get(dirs.tracking)))

    // 4 new files against an existing tracking table, no failures
    val (jobs, shuffled) = jobsDuring { small("c", "d", "e", "f"); drain() }
    val phases = jobs.flatMap(_._1)
    assert(jobs.nonEmpty && phases.size == jobs.size, s"jobs without a phase: $jobs")
    assert(jobs.forall { case (p, desc) => desc.endsWith(p.get) }, jobs)
    assert(jobs.size <= 3, jobs.mkString("\n"))
    assert(shuffled == 0, s"$shuffled shuffle bytes written")
    assert(!phases.contains("filepipeline.dead_letter"), phases)
    assert(phases.distinct == Seq("filepipeline.build", "filepipeline.chunks"), phases)

    // an all-duplicate batch: renamed copies of tracked content
    val before = sinkFiles(dirs)
    Files.copy(Paths.get(dirs.input, "a.txt"), Paths.get(dirs.input, "copy_of_a.txt"))
    Files.copy(Paths.get(dirs.input, "c.txt"), Paths.get(dirs.input, "copy_of_c.txt"))
    val (dupJobs, _) = jobsDuring(drain())
    assert(sinkFiles(dirs) == before)
    assert(dupJobs.nonEmpty && dupJobs.size <= 1 &&
      dupJobs.forall(_._1.contains("filepipeline.build")), dupJobs)
  }

  test("a later drain reuses the generated classes of the first") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.streaming.Trigger
    val dirs = chunkDirs()
    val cfg = FilePipeline.Config(chunkSize = 64, errorCorrectionSymbols = 4)
    def drain(seed: Int, copies: Int*): Unit = {
      mixedUtf8Wave(dirs.input, seed)
      // renamed copies of drain 1's files: the batch drops their paths
      copies.foreach(i => Files.copy(Paths.get(dirs.input, s"wave_31_$i.txt"),
        Paths.get(dirs.input, s"copy_${seed}_$i.txt")))
      FilePipeline.run(spark, dirs, cfg, Trigger.AvailableNow()).awaitTermination()
    }
    // the first drain has no tracking table; the second is the first to
    // check its keys against one and to drop a path. The third drops
    // other paths, and more of them: its filter must reuse the second's
    // code.
    drain(31)
    drain(32, 0)
    def compiled(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val n = compiled(drain(33, 1, 2))
    // none: the driver writes the timestamped sinks, so no plan inlines
    // a per-drain instant
    assert(n == 0, s"$n classes compiled by the third drain")
    // and nothing for the drop filter: a drain that drops no path
    // compiles as many
    val plain = compiled(drain(34))
    assert(n <= plain, s"$n classes compiled with a drop filter, $plain without")
  }

  test("within a batch the smallest path of each content wins, and tracked content is skipped") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val cfg = FilePipeline.Config(chunkSize = 64, errorCorrectionSymbols = 4)
    for (streamed <- Seq(false, true)) {
      val dirs = freshDirs()
      Files.createDirectories(Paths.get(dirs.input))
      def put(name: String, text: String): Unit =
        Files.write(Paths.get(dirs.input, name), text.getBytes(StandardCharsets.UTF_8))
      def drain(): Unit =
        if (streamed) FilePipeline.run(spark, dirs, cfg, Trigger.AvailableNow()).awaitTermination()
        else FilePipeline.runBatch(spark, dirs, cfg)
      def rows(): Seq[Long] = Seq(spark.read.parquet(dirs.tracking).count(),
        spark.read.json(dirs.reports).count(), spark.read.parquet(dirs.statusEvents).count())
      put("tracked.txt", "content seen before")
      drain()
      val before = rows()

      val shared = "one content under three names"
      Seq("b_dup.txt", "a_dup.txt", "c_dup.txt").foreach(put(_, shared))
      put("renamed_tracked.txt", "content seen before")
      put("unique.txt", "a content of its own")
      drain()
      val outs = Files.list(Paths.get(dirs.output)).toArray
        .map(_.asInstanceOf[Path].getFileName.toString).toSet
      assert(outs == Set("processed_tracked.txt", "processed_a_dup.txt",
        "processed_unique.txt"), s"streamed=$streamed")
      assert(rows() == before.map(_ + 2), s"streamed=$streamed")
      val sharedPaths = spark.read.parquet(dirs.tracking)
        .filter(col("file_hash") === graft.codec.DnaCodec.md5HexUtf8(shared))
        .select("file_path").as[String].collect().toSeq
      assert(sharedPaths.size == 1 && sharedPaths.head.endsWith("/a_dup.txt"),
        s"streamed=$streamed: $sharedPaths")
    }
  }

  test("the held tracking set honours another writer's rows and a deleted table") {
    import spark.implicits._
    val dirs = freshDirs()
    Files.createDirectories(Paths.get(dirs.input))
    def put(name: String, text: String): Unit =
      Files.write(Paths.get(dirs.input, name), text.getBytes(StandardCharsets.UTF_8))
    def outputs(): Set[String] = Files.list(Paths.get(dirs.output)).toArray
      .map(_.asInstanceOf[Path].getFileName.toString).toSet
    put("one.txt", "first content")
    FilePipeline.runBatch(spark, dirs) // holds the table from here on

    // another writer's plain Spark append between two runs: its hash is
    // tracked, so the next run skips that content
    val foreign = "appended by another writer"
    Seq((graft.codec.DnaCodec.md5HexUtf8(foreign), "/elsewhere/x.txt", 26L,
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "processed_x.txt"))
      .toDF("file_hash", "file_path", "file_size", "processed_at", "output_file")
      .write.mode("append").parquet(s"${dirs.tracking}/status=completed")
    put("two.txt", foreign)
    put("three.txt", "third content")
    FilePipeline.runBatch(spark, dirs)
    assert(outputs() == Set("processed_one.txt", "processed_three.txt"))
    assert(spark.read.parquet(dirs.tracking).count() == 3)

    // the table deleted between runs: its content is processable again
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirs.tracking))
    org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(dirs.output))
    FilePipeline.runBatch(spark, dirs)
    assert(outputs() == Set("processed_one.txt", "processed_two.txt", "processed_three.txt"))
    assert(spark.read.parquet(dirs.tracking).select("file_path").as[String].collect()
      .map(p => Paths.get(p).getFileName.toString).sorted.toSeq ==
      Seq("one.txt", "three.txt", "two.txt"))
  }

  test("reports, status events and tracking read back like a Spark-written twin") {
    import org.apache.spark.sql.{DataFrame, Row}
    import scala.jdk.CollectionConverters._
    val dirs = freshDirs()
    Files.createDirectories(Paths.get(dirs.input))
    Files.write(Paths.get(dirs.input, "ok.txt"), "alpha".getBytes)
    Files.write(Paths.get(dirs.input, "ok2.txt"), "beta beta".getBytes)
    Files.write(Paths.get(dirs.input, "big.txt"), ("x" * 4096).getBytes)
    FilePipeline.runBatch(spark, dirs, FilePipeline.Config(maxFileBytes = 1024))

    val twins = Files.createTempDirectory("graft-twin")
    def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    // each sink's rows, written again by a Spark job in the sink's format
    // and layout, read back through `spark.read` with the same schema
    def sameAsTwin(name: String, read: String => DataFrame,
        write: (DataFrame, String) => Unit, dir: String): Unit = {
      val driverWritten = read(dir)
      val twin = twins.resolve(name).toString
      write(spark.createDataFrame(driverWritten.collect().toSeq.asJava, driverWritten.schema), twin)
      val fromTwin = read(twin)
      assert(driverWritten.schema == fromTwin.schema, name)
      assert(sorted(driverWritten) == sorted(fromTwin), name)
      // and its data files are named as Spark names them
      def shapes(d: String): Set[String] = Files.walk(Paths.get(d)).toArray
        .map(p => Paths.get(d).relativize(p.asInstanceOf[Path]).toString)
        .filter(n => n.contains("part-") && !n.contains("/.") && !n.startsWith("."))
        .map(_.replaceAll("part-\\d{5}-[0-9a-f-]{36}", "part-N-UUID")).toSet
      assert(shapes(dir).nonEmpty && shapes(dir) == shapes(twin), name)
    }
    sameAsTwin("reports", spark.read.json(_), _.write.json(_), dirs.reports)
    sameAsTwin("status", spark.read.parquet(_), _.write.parquet(_), dirs.statusEvents)
    sameAsTwin("tracking", spark.read.parquet(_),
      _.write.partitionBy("status").parquet(_), dirs.tracking)

    // the stated schemas: field order, TIMESTAMP columns, the partition
    assert(spark.read.parquet(dirs.statusEvents).schema.toDDL ==
      "file_hash STRING,status STRING,event_time TIMESTAMP")
    assert(spark.read.parquet(dirs.tracking).schema.toDDL ==
      "file_hash STRING,file_path STRING,file_size BIGINT,processed_at TIMESTAMP," +
        "output_file STRING,status STRING")
    assert(spark.read.json(dirs.reports).columns.toSeq == Seq("chunk_size",
      "dna_chunks_count", "error_correction_symbols", "file_hash", "file_path", "filename",
      "original_checksum", "processed_at", "reconstructed_checksum", "total_dna_bases"))
    val reportLine = Files.list(Paths.get(dirs.reports)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".json")).map(Files.readAllLines(_).get(0)).head
    assert(reportLine.startsWith("{\"file_path\":") &&
      reportLine.matches(".*\"processed_at\":\"\\d{4}-\\d\\d-\\d\\dT[^\"]+\"}"), reportLine)
    // one instant stamps all three sinks (JSON keeps its milliseconds)
    import spark.implicits._
    val instants = Seq(
      spark.read.parquet(dirs.statusEvents).select("event_time"),
      spark.read.parquet(dirs.tracking).select("processed_at"),
      spark.read.schema("processed_at TIMESTAMP").json(dirs.reports))
      .map(_.as[java.sql.Timestamp].collect().map(_.getTime).toSet)
    assert(instants.forall(_ == instants.head) && instants.head.size == 1, instants)
    val st = FilePipeline.currentStatus(spark, dirs.statusEvents)
      .select("status").as[String].collect().sorted.toSeq
    assert(st == Seq("completed", "completed", "failed"))
  }

  test("every tracked file of a later batch gets its status event") {
    // batch 2's sinks must read the cached batch, not a re-planned one
    // whose anti-join already sees batch 2's own tracking rows
    val dirs = freshDirs()
    Files.createDirectories(Paths.get(dirs.input))
    Files.write(Paths.get(dirs.input, "one.txt"), "first batch".getBytes)
    FilePipeline.runBatch(spark, dirs)
    Files.write(Paths.get(dirs.input, "two.txt"), "second batch".getBytes)
    Files.write(Paths.get(dirs.input, "three.txt"), "second batch too".getBytes)
    Files.write(Paths.get(dirs.input, "big.txt"), ("x" * 4096).getBytes)
    FilePipeline.runBatch(spark, dirs, FilePipeline.Config(maxFileBytes = 1024))
    import spark.implicits._
    val tracked = spark.read.parquet(dirs.tracking)
      .select("file_hash", "status").as[(String, String)].collect().toSet
    val st = FilePipeline.currentStatus(spark, dirs.statusEvents)
      .select("file_hash", "status").as[(String, String)].collect()
    assert(tracked.size == 4)
    assert(st.length == tracked.size && st.toSet == tracked)
    assert(tracked.count(_._2 == "failed") == 1)
  }

  test("sample-input bootstrap fires only on an empty input dir") {
    val dirs = freshDirs()
    assert(FilePipeline.bootstrapSampleInput(dirs.input))
    assert(Files.exists(Paths.get(dirs.input, "sample_input.txt")))
    assert(!FilePipeline.bootstrapSampleInput(dirs.input)) // second call: no-op
    FilePipeline.runBatch(spark, dirs)
    assert(Files.exists(Paths.get(dirs.output, "processed_sample_input.txt")))
  }

  test("status ADT round-trips its wire names") {
    import FilePipeline.Status
    assert(Status.all.size == 6)
    Status.all.foreach(s => assert(Status.parse(s.name).contains(s)))
    assert(Status.parse("bogus").isEmpty)
  }

  test("status events resolve latest-wins") {
    val dirs = freshDirs()
    Files.createDirectories(Paths.get(dirs.input))
    Files.write(Paths.get(dirs.input, "a.txt"), "alpha".getBytes)
    FilePipeline.runBatch(spark, dirs)
    val st = FilePipeline.currentStatus(spark, dirs.statusEvents)
    assert(st.count() == 1)
    assert(st.filter("status = 'completed'").count() == 1)
  }
}
