package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class EventStreamSpec extends AnyFunSuite {
  import EventStream._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // base one day past the epoch: a row at exactly the initial
  // watermark (epoch 0) would be dropped as late
  private def ts(min: Long): Timestamp = new Timestamp((1440 + min) * 60000L)

  /** Document row for the streaming-curation composition test. */
  case class StreamDoc(doc_id: Long, text: String, ts: Timestamp)

  test("watermarked hourly windows aggregate by event time across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append()).start()
    try {
      // two events in hour 0, one in hour 1, then advance past watermark
      mem.addData(
        Event(1, 1, "click", 1.0, ts(5)),
        Event(2, 2, "click", 2.0, ts(50)),
        Event(3, 1, "view", 5.0, ts(70)))
      q.processAllAvailable()
      // watermark = maxSeen - 2h; push max event time far enough that
      // hour-0 and hour-1 windows close and emit in Append mode
      mem.addData(Event(4, 3, "click", 1.0, ts(70 + 300)))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select("window_start", "event_type", "n_events", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((ts(0), "click", 2L, 3.0)))
      assert(rows.contains((ts(60), "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("sessionization: in-gap events extend the session, timeout closes it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Event(1, 7, "click", 1.0, ts(0)), Event(2, 7, "view", 2.0, ts(10)))
      q.processAllAvailable()
      val open = spark.table("sessions").as[SessionUpdate].collect()
      assert(open.exists(s => s.user_id == 7 && s.n_events == 2 &&
        s.total_value == 3.0 && !s.closed))

      // another user far in the future moves the watermark beyond
      // user 7's gap timeout → session closes
      mem.addData(Event(3, 9, "click", 1.0, ts(600)))
      q.processAllAvailable()
      mem.addData(Event(4, 9, "click", 1.0, ts(610)))
      q.processAllAvailable()
      val all = spark.table("sessions").as[SessionUpdate].collect()
      assert(all.exists(s => s.user_id == 7 && s.closed && s.n_events == 2))
      // the close REMOVED user 7's state row — the store holds exactly
      // the one live session (user 9), not every user ever seen
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows == 1L,
        s"expected 1 live session in the state store, found $stateRows")
    } finally q.stop()
  }

  test("sessionization: an intra-batch gap closes the first session instead of fusing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions_gap")
      .outputMode(OutputMode.Update()).start()
    try {
      // one micro-batch (replay/backfill shape): two events 100 min
      // apart — far beyond the 30-min gap. Must yield a CLOSED 1-event
      // session at ts(0) and an OPEN 1-event session at ts(100), never
      // a fused 2-event session spanning the gap.
      mem.addData(Event(1, 11, "click", 1.0, ts(0)),
        Event(2, 11, "view", 2.0, ts(100)))
      q.processAllAvailable()
      val rows = spark.table("sessions_gap").as[SessionUpdate].collect()
      assert(rows.exists(s => s.user_id == 11 && s.closed && s.n_events == 1 &&
        s.session_start == ts(0) && s.session_end == ts(0)))
      assert(rows.exists(s => s.user_id == 11 && !s.closed && s.n_events == 1 &&
        s.session_start == ts(100)))
      assert(!rows.exists(s => s.user_id == 11 && s.n_events == 2))
    } finally q.stop()
  }

  test("batch analogue matches a hand computation") {
    import spark.implicits._
    val df = Seq(
      Event(1, 1, "click", 1.5, ts(10)),
      Event(2, 1, "click", 2.5, ts(20)),
      Event(3, 2, "view", 1.0, ts(65))).toDF()
    val got = hourlyCountsBatch(df)
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(got == Set((ts(0), "click", 2L, 4.0), (ts(60), "view", 1L, 1.0)))
  }

  test("streaming dedup drops within-watermark duplicates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Event(1, 1, "click", 1.0, ts(0)),
        Event(1, 1, "click", 1.0, ts(1)), // intra-batch duplicate id
        Event(2, 2, "view", 2.0, ts(5)))
      q.processAllAvailable()
      // replay of event 1 in a LATER micro-batch, still inside the
      // watermark → state must remember it; plus one new event
      mem.addData(
        Event(1, 1, "click", 1.0, ts(10)),
        Event(3, 3, "click", 3.0, ts(20)))
      q.processAllAvailable()
      val ids = spark.table("dedup").as[Event].collect().map(_.event_id).toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L),
        s"expected each id exactly once, got $ids")
    } finally q.stop()
  }

  test("streaming hourly windows over the REAL events fixture match the batch analogue") {
    // the streaming surface on fixture data, not toy rows: replay
    // sf0.001's 1000 events through the watermarked window in two
    // micro-batches, flush the watermark past every original window,
    // and require the closed-window stream to equal hourlyCountsBatch
    // on the same rows — the per-window-close contract the batch
    // analogue exists to pin
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "value", "ts")
      .as[Event].collect().sortBy(_.ts.getTime)
    assert(fixture.length == 1000)
    val mem = MemoryStream[Event]
    val q = hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly_fixture")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      // two flush sentinels 10h past the end: the first advances the
      // watermark when its batch commits, the second runs a batch
      // UNDER that watermark so every original window emits
      val flushTs = new Timestamp(fixture.last.ts.getTime + 10 * 3600 * 1000L)
      mem.addData(Event(-1, -1, "flush_sentinel", 0.0, flushTs))
      q.processAllAvailable()
      mem.addData(Event(-2, -1, "flush_sentinel", 0.0,
        new Timestamp(flushTs.getTime + 60000)))
      q.processAllAvailable()
      val got = spark.table("hourly_fixture")
        .as[(Timestamp, String, Long, Double)].collect()
        .filter(_._2 != "flush_sentinel")
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      val expect = hourlyCountsBatch(fixture.toSeq.toDF())
        .as[(Timestamp, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(got.keySet == expect.keySet,
        s"closed windows diverged: missing ${expect.keySet -- got.keySet}, extra ${got.keySet -- expect.keySet}")
      expect.foreach { case (k, (n, sum)) =>
        assert(got(k)._1 == n, s"$k: n_events ${got(k)._1} != $n")
        // both sides round(2) after double sums whose accumulation
        // order differs — compare within a rounding ulp, not bitwise
        assert(math.abs(got(k)._2 - sum) <= 0.011, s"$k: sum ${got(k)._2} != $sum")
      }
    } finally q.stop()
  }

  test("streaming sessionization over the REAL events fixture matches batch evt_sessions") {
    // cross-surface parity on fixture data: the flatMapGroupsWithState
    // sessionizer replaying sf0.001's events must close exactly the
    // sessions the declared batch gaps-and-islands query finds — same
    // gap bound, same (user, n_events, start, end) set. Both sides own
    // the >30-min-starts-new-session boundary, so a drift in either
    // breaks this, not just its own unit tests.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val fixture = graft.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "ts")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Event]
    val q = sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions_fixture")
      .outputMode(OutputMode.Update()).start()
    try {
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      // flush twice: first advances the watermark past every gap
      // timeout, second runs a batch under it so the timeouts fire
      val flushTs = new Timestamp(fixture.last.ts.getTime + 10 * 3600 * 1000L)
      mem.addData(Event(-1, -1, "flush", 0.0, flushTs))
      q.processAllAvailable()
      mem.addData(Event(-2, -1, "flush", 0.0,
        new Timestamp(flushTs.getTime + 60000)))
      q.processAllAvailable()
      val got = spark.table("sessions_fixture").as[SessionUpdate].collect()
        .filter(s => s.closed && s.user_id >= 0)
        .map(s => (s.user_id, s.n_events.toLong,
          s.session_start.getTime, s.session_end.getTime)).toSet
      val expect = graft.operators.Relational.queries("evt_sessions")(spark, sfDir)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map { case (u, _, n, startMs, durMs) => (u, n, startMs, startMs + durMs) }
        .toSet
      assert(expect.nonEmpty && got == expect,
        s"streaming sessions diverged from batch: missing ${expect -- got}, extra ${got -- expect}")
    } finally q.stop()
  }

  test("dedup state store is bounded by the watermark: old keys evicted, never accreted") {
    // the claim behind dropDuplicatesWithinWatermark's existence here
    // (EventStream.scala dedupStream Scaladoc), pinned on the state
    // metrics the way PlanQualitySpec pins batch plans: under a
    // two-batch replay, keys older than the watermark horizon LEAVE
    // the store — a forever stream holds O(window) state, not
    // O(distinct keys ever)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_bounded")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: ten distinct keys early in the stream
      mem.addData((1 to 10).map(i =>
        Event(i.toLong, i.toLong, "click", 1.0, ts(i))): _*)
      q.processAllAvailable()
      val loaded = q.lastProgress.stateOperators.head.numRowsTotal
      assert(loaded == 10L, s"expected all 10 keys in state, found $loaded")

      // batch 2 moves event time 10h ahead; its commit advances the
      // watermark to ts(600)-2h, far past every batch-1 key
      mem.addData(Event(100, 100, "click", 1.0, ts(600)))
      q.processAllAvailable()
      // batch 3 runs WITH that advanced watermark: batch-1 keys evict
      mem.addData(Event(101, 101, "click", 1.0, ts(610)))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators.head.numRowsTotal
      assert(after <= 2L,
        s"watermark passed 10 keys but state still holds $after rows")
      // eviction is bounded-state bookkeeping, not dedup forgetting
      // in-window keys: the two recent events both emitted exactly once
      val ids = spark.table("dedup_bounded").as[Event].collect()
        .map(_.event_id).toSet
      assert(ids == (1L to 10L).toSet + 100L + 101L)
    } finally q.stop()
  }

  test("curation kernels run unchanged inside a streaming dedup flow") {
    // the batch curation operators are plain column expressions /
    // row kernels, so the SAME code composes into readStream: content
    // dedup with bounded state, then per-doc repetition metrics —
    // the shape of a continuous-ingest curation pipeline
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDoc]
    val flow = mem.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("text")
      .select($"doc_id",
        graft.operators.TextAnalysis.repetitionKernel(
          graft.operators.TextAnalysis.tokens($"text")).as("r"),
        round(graft.operators.TextAnalysis.entropyKernel(
          graft.operators.TextAnalysis.tokens($"text")), 6).as("h"))
      .select($"doc_id", $"r.n_tok".as("n_tok"), $"r.max_2gram".as("m2"), $"h")
    val q = flow.writeStream.format("memory").queryName("curated")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        StreamDoc(1, "a b a b a b", ts(0)),
        StreamDoc(2, "v w x y z", ts(1)))
      q.processAllAvailable()
      // same CONTENT again in a later micro-batch, inside the
      // watermark → dropped by state, never reaches the kernel
      mem.addData(StreamDoc(3, "a b a b a b", ts(5)))
      q.processAllAvailable()
      val rows = spark.table("curated")
        .as[(Long, Int, Int, Double)].collect().toSet
      // doc 1: 6 tokens; 2-grams (ab, ba, ab, ba, ab) → max mult 3;
      // entropy: two tokens × count 3 → ln 2; doc 2: 5 distinct → ln 5
      def h(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rows == Set((1L, 6, 3, h(math.log(2))), (2L, 5, 1, h(math.log(5)))),
        s"got $rows")
    } finally q.stop()
  }

  test("micro-batch throughput stays above a pathology floor (progress metrics)") {
    // not a benchmark — a regression tripwire on the engine-reported
    // progress metrics: replaying the sf0.001 fixture (1000 events)
    // through the watermarked hourly window must sustain well over
    // 100 rows/s of trigger-execution throughput. A pathological
    // per-batch regression (state store thrash, accidental per-row
    // work in the plan) drops this by orders of magnitude; normal
    // local[2] runs measure thousands. The floor is deliberately
    // generous so scheduler jitter can never flap it.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "value", "ts")
      .as[Event].collect().sortBy(_.ts.getTime)
    val mem = MemoryStream[Event]
    val q = hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly_throughput")
      .outputMode(OutputMode.Append()).start()
    try {
      // 4 micro-batches of 250 rows — enough triggers to average out
      // one slow first batch (codegen/JIT) without a long run
      fixture.grouped(250).foreach { b =>
        mem.addData(b.toSeq: _*)
        q.processAllAvailable()
      }
      val progress = q.recentProgress.toSeq
        .filter(p => p.numInputRows > 0)
      val rows = progress.map(_.numInputRows).sum
      val execMs = progress
        .map(p => p.durationMs.getOrDefault("triggerExecution", 0L).toLong)
        .sum
      assert(rows == fixture.length.toLong,
        s"progress accounted $rows of ${fixture.length} input rows")
      assert(execMs > 0, "no triggerExecution durations reported")
      val rowsPerSec = rows.toDouble * 1000.0 / execMs
      info(f"streaming throughput: $rowsPerSec%.0f rows/s over ${progress.size} batches")
      // the floor catches order-of-magnitude pathologies (state-store
      // thrash, accidental per-row work), not scheduler weather — on a
      // machine already running concurrent Spark jobs wall-clock-derived
      // throughput can flap, so a contended run may opt out explicitly
      // (the bench contention convention; measured ~760 rows/s idle,
      // 7x the floor)
      if (sys.env.contains("SPARK_GRAFT_CONTENDED"))
        info("SPARK_GRAFT_CONTENDED set: throughput floor check skipped")
      else
        assert(rowsPerSec > 100.0,
          f"pathological micro-batch throughput: $rowsPerSec%.0f rows/s")
    } finally q.stop()
  }

  test("streaming as-of attribution over the REAL fixture matches batch evt_asof") {
    // replay sf0.001's events through asofAttribute in two TIME-SPLIT
    // micro-batches (a time split preserves every user's event order
    // across the boundary, so the O(1)-state stream must reproduce the
    // batch window exactly) and require set equality with the declared
    // batch query on the same fixture
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "value", "ts")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Event]
    val q = asofAttribute(mem.toDS())
      .writeStream.format("memory").queryName("asof_fixture")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("asof_fixture")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      val expect = graft.operators.Relational
        .queries("evt_asof")(spark, "/root/testdata/sf0.001")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(expect.nonEmpty && got == expect,
        s"streaming as-of diverged: missing ${(expect -- got).take(3)}, " +
          s"extra ${(got -- expect).take(3)}")
    } finally q.stop()
  }

  test("streaming as-of: cross-batch state carries the last click; late clicks cannot retro-attribute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = asofAttribute(mem.toDS())
      .writeStream.format("memory").queryName("asof_state")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1, arrival order scrambled: the fold must use event-time
      // order, so p11 attributes to c10 (not the later-timestamped c12)
      mem.addData(
        Event(12, 1, "click", 0.0, ts(30)),
        Event(10, 1, "click", 0.0, ts(0)),
        Event(11, 1, "purchase", 5.0, ts(10)),
        Event(20, 2, "purchase", 5.0, ts(10))) // user 2: no click yet
      q.processAllAvailable()
      // batch 2: user 1's state carries c12 across the boundary; user
      // 2's click arrives AFTER its purchase was emitted (bounded-state
      // trade — no retro-attribution) but serves the NEXT purchase
      mem.addData(
        Event(13, 1, "purchase", 5.0, ts(60)),
        Event(21, 2, "click", 0.0, ts(40)),
        Event(22, 2, "purchase", 5.0, ts(50)))
      q.processAllAvailable()
      val got = spark.table("asof_state")
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(x => x._2 -> x).toMap
      assert(got(11L)._4 == 10L && got(11L)._6 == 10 * 60000L)
      assert(got(20L)._4 == -1L && got(20L)._5 == -1L && got(20L)._6 == -1L)
      assert(got(13L)._4 == 12L, "state must carry the last click across batches")
      assert(got(22L)._4 == 21L, "a late click must still serve later purchases")
    } finally q.stop()
  }

  test("streaming windowed funnel over the REAL fixture matches batch evt_funnel_windowed") {
    // time-split replay (the asof pattern): per-user event order is
    // preserved across the boundary, so the O(1)-state fold must
    // reproduce the batch query's per-stage aggregate exactly once
    // its transition rows are rolled up
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "value", "ts")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Event]
    val q = funnelWindowed(mem.toDS())
      .writeStream.format("memory").queryName("funnel_fixture")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("funnel_fixture")
        .groupBy($"stage")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_users"),
          org.apache.spark.sql.functions.sum($"lag_ms").as("sum_lag_ms"))
        .as[(Long, Long, Long)].collect().toSet
      val expect = graft.operators.Relational
        .queries("evt_funnel_windowed")(spark, "/root/testdata/sf0.001")
        .as[(Long, Long, Long)].collect().toSet
      assert(expect.nonEmpty && got == expect,
        s"streaming funnel diverged: missing ${(expect -- got).take(3)}, " +
          s"extra ${(got -- expect).take(3)}")
    } finally q.stop()
  }

  test("streaming funnel: cross-batch stage state; stage decisions are immutable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = funnelWindowed(mem.toDS())
      .writeStream.format("memory").queryName("funnel_state")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Event(10, 1, "view", 0.0, ts(0)),
        Event(11, 1, "click", 0.0, ts(10))) // converts: 10 min after view
      q.processAllAvailable()
      mem.addData(
        Event(12, 1, "purchase", 5.0, ts(20)), // batch 2: state carries cTs
        Event(13, 1, "click", 0.0, ts(15)),    // late click: must NOT re-derive stage 2
        Event(20, 2, "click", 0.0, ts(5)),     // user 2: click with no view — no stage
        Event(21, 2, "purchase", 1.0, ts(6)))
      q.processAllAvailable()
      val rows = spark.table("funnel_state")
        .as[(Long, Long, Long, Long)].collect()
      val u1 = rows.filter(_._1 == 1L).map(r => r._2 -> r._4).toMap
      assert(u1 == Map(1L -> 0L, 2L -> 10 * 60000L, 3L -> 10 * 60000L),
        s"expected one transition per stage with first-eligible lags, got $u1")
      assert(!rows.exists(_._1 == 2L), "clicks without a view must not stage")
    } finally q.stop()
  }

  test("streaming attribution window over the REAL fixture matches batch evt_attrib_window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "value", "ts")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Event]
    val q = attribWindow(mem.toDS())
      .writeStream.format("memory").queryName("attrib_fixture")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = fixture.splitAt(fixture.length / 2)
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("attrib_fixture")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val expect = graft.operators.Relational
        .queries("evt_attrib_window")(spark, "/root/testdata/sf0.001")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(expect.nonEmpty && got == expect,
        s"streaming attribution diverged: missing ${(expect -- got).take(3)}, " +
          s"extra ${(got -- expect).take(3)}")
    } finally q.stop()
  }

  test("streaming attribution: window-bounded click state, eviction, cross-batch carry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val W = graft.operators.Relational.AttribWindowMs
    val mem = MemoryStream[Event]
    val q = attribWindow(mem.toDS())
      .writeStream.format("memory").queryName("attrib_state")
      .outputMode(OutputMode.Append()).start()
    try {
      // click far outside the window, then two in-window clicks
      mem.addData(
        Event(10, 1, "click", 1.25, new Timestamp(0L)),
        Event(11, 1, "click", 2.0, new Timestamp(2 * W)),
        Event(12, 1, "click", 3.0, new Timestamp(2 * W + 1000)))
      q.processAllAvailable()
      // batch 2: the purchase sees only the trailing-window clicks,
      // carried across the batch boundary; the aged-out click at t=0
      // was evicted and contributes nothing
      mem.addData(Event(13, 1, "purchase", 9.99, new Timestamp(2 * W + 2000)))
      q.processAllAvailable()
      val rows = spark.table("attrib_state")
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r._2 == 13L && r._4 == 2L && r._5 == 200L + 300L,
        s"expected 2 clicks / 500 cents, got $r")
      // a purchase AT a click's timestamp excludes it (half-open window)
      mem.addData(Event(14, 1, "purchase", 1.0, new Timestamp(2 * W + 1000)))
      q.processAllAvailable()
      val r2 = spark.table("attrib_state")
        .as[(Long, Long, Long, Long, Long)].collect()
        .find(_._2 == 14L).get
      assert(r2._4 == 1L && r2._5 == 200L,
        s"half-open window must exclude the same-ts click, got $r2")
    } finally q.stop()
  }

  test("concurrencyLayoutStream: micro-batch-maintained layout serves the full-build answers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    import graft.operators.Relational
    // reference: one-shot layout over the full corpus
    val dirA = java.nio.file.Files.createTempDirectory("clsA").toString
    Relational.writeConcurrencyLayout(spark, sf, dirA)
    val full = Relational.concurrencyFromStored(spark, sf, dirA).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the same events replayed through the stream in two micro-batches
    val dirB = java.nio.file.Files.createTempDirectory("clsB").toString
    val evRows = graft.Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
      .as[Event].collect().sortBy(_.event_id)
    val (b1, b2) = evRows.splitAt(evRows.length / 2)
    val mem = MemoryStream[Event]
    val q = EventStream.concurrencyLayoutStream(mem.toDF(), dirB)
    try {
      mem.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Relational.concurrencyFromStored(spark, sf, dirB).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == full,
      "stream-maintained layout diverged from the one-shot build")
  }

  test("streaming as-of: late OLD clicks cannot clobber state; a late purchase never sees a FUTURE click") {
    // the r12-advice orderings: both outputs below were impossible
    // under the batch contract but the old fold emitted them — (a) a
    // late-arriving old click overwrote a newer stored click, (b) a
    // late purchase attributed a stored click with click_ts > p_ts,
    // emitting a negative lag_ms
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = asofAttribute(mem.toDS())
      .writeStream.format("memory").queryName("asof_late")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Event(10, 1, "click", 0.0, ts(100)), // user 1: newer click first
        Event(20, 2, "click", 0.0, ts(100)), // user 2: stored click
        // same-ts tiebreak across the batch boundary: user 3's stored
        // click id 32 does NOT precede purchase id 31 at the same ts;
        // user 4's stored click id 40 DOES precede purchase id 41
        Event(32, 3, "click", 0.0, ts(10)),
        Event(40, 4, "click", 0.0, ts(10)))
      q.processAllAvailable()
      mem.addData(
        Event(11, 1, "click", 0.0, ts(50)), // (a) late OLD click
        Event(12, 1, "purchase", 5.0, ts(200)),
        Event(21, 2, "purchase", 5.0, ts(50)), // (b) late purchase
        Event(31, 3, "purchase", 5.0, ts(10)), // same-ts, higher-id click stored
        Event(41, 4, "purchase", 5.0, ts(10))) // same-ts, lower-id click stored
      q.processAllAvailable()
      val got = spark.table("asof_late")
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(x => x._2 -> x).toMap
      assert(got(12L)._4 == 10L,
        "a late OLD click must not clobber the newer stored click")
      assert(got(21L)._4 == -1L && got(21L)._6 == -1L,
        "a late purchase must not attribute a stored FUTURE click (negative lag)")
      assert(got(31L)._4 == -1L,
        "same-ts tiebreak: a higher-event-id click does not precede the purchase")
      assert(got(41L)._4 == 40L && got(41L)._6 == 0L,
        "same-ts tiebreak: a lower-event-id click precedes the purchase (lag 0)")
      // no emitted row may carry a negative lag other than the sentinel
      assert(got.values.forall(r => r._6 >= 0 || r._6 == -1L))
    } finally q.stop()
  }

  test("concurrencyDeleteStream: streamed user erasures equal the batch takedown") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.Relational
    val sf = "/root/testdata/sf0.001"
    val streamed = java.nio.file.Files.createTempDirectory("concdelS").toString
    val batch = java.nio.file.Files.createTempDirectory("concdelB").toString
    Relational.writeConcurrencyLayout(spark, sf, streamed)
    Relational.writeConcurrencyLayout(spark, sf, batch)
    // an in-test erasure slice wide enough to split into two
    // micro-batches at sf0.001 (the declared query's PurgeMod slice
    // has a single user there)
    val purge = 3L
    val res = 1L
    val delIds = graft.Tables.events(spark, sf)
      .select($"user_id").filter($"user_id" % purge === res)
      .distinct().as[Long].collect().sorted
    assert(delIds.length >= 2, "purge slice too small to split into batches")
    Relational.deleteFromConcurrencyLayout(spark, batch,
      delIds.toSeq.toDF("user_id"))
    val mem = MemoryStream[Long]
    val q = MicroBatch.start(mem.toDF().writeStream)(b =>
      Relational.deleteFromConcurrencyLayout(b.sparkSession, streamed, b))
    try {
      val (h1, h2) = delIds.splitAt(delIds.length / 2)
      mem.addData(h1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(h2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val ownerPred = col("user_id") % purge =!= res
    def serve(dir: String) =
      Relational.concurrencyFromStored(spark, sf, dir, serveMod = 1L,
          ownerPred = ownerPred)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = serve(streamed)
    assert(got.nonEmpty, "takedown serve empty — vacuous test")
    assert(got == serve(batch),
      "streamed erasure diverged from the batch takedown")
  }
}
