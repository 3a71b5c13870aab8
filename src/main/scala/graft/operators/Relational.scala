package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.sources.StoredRoot

/** Relational operator surface (SURVEY.md §2.2–§2.8): projections,
  * filters, equi/semi/anti joins, aggregations, window functions,
  * top-k, set ops, scalar functions — expressed as declarative
  * DataFrame plans so Catalyst handles pushdown/pruning/join choice.
  *
  * All float aggregates are rounded in BOTH the Spark plan and the
  * DuckDB oracle so cross-engine summation order can't flip the hash.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // A1–A4: grouped aggregation with map-side partial agg (TPC-H Q1 shape).
    "q1_agg" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_base_price"),
          round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
          round(avg($"l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // F1/F3 + pushdown: selective filter to a single scalar (TPC-H Q6 shape).
    // Filters + 4-column ReadSchema should reach the parquet scan.
    "q2_filter_scan" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
                $"l_shipdate" <  lit("1996-01-01").cast("timestamp") &&
                $"l_quantity" < 24)
        .agg(round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"),
             count(lit(1)).as("n_rows"))
    },

    // J2 equi-join chain with broadcast dims: orders ⋈ customer ⋈ nation.
    "q3_join_agg" -> { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(round(sum($"o_totalprice"), 2).as("total_price"),
             count(lit(1)).as("n_orders"))
    },

    // J1: left-anti join (the reference's content-hash dedup shape, dag.py:452-474).
    "q4_anti_join" -> { (s, d) =>
      import s.implicits._
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter($"o_totalprice" > 300000),
          $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
    },

    // J3: left-semi existence check + count (dag.py:472-474 shape).
    "q5_semi_join" -> { (s, d) =>
      import s.implicits._
      Tables.customer(s, d)
        .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_semi")
        .agg(count(lit(1)).as("n_customers_with_orders"))
    },

    // O1 + limit: top-k by aggregated revenue, deterministic tie-break.
    "q6_topk" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_partkey")
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
        .orderBy($"revenue".desc, $"l_partkey".asc)
        .limit(10)
    },

    // Window: latest order per customer via row_number (the chunk-index
    // assignment analogue, SURVEY §2.5).
    "q7_window_rownum" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".desc, $"o_orderkey".asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_custkey", $"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("o_odate"))
    },

    // Set op: parts never sold (EXCEPT = distinct difference).
    "q8_except" -> { (s, d) =>
      import s.implicits._
      Tables.part(s, d).select($"p_partkey")
        .except(Tables.lineitem(s, d)
          .filter($"l_shipdate" < lit("1995-06-01").cast("timestamp"))
          .select($"l_partkey".as("p_partkey")))
    },

    // Window frame: running sum per user ordered by event_id (rowsBetween).
    "q9_window_running" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter($"user_id" < 5)
        .select($"event_id", $"user_id", $"event_type",
          round(sum($"value").over(w), 2).as("running_value"))
    },

    // Distinct aggregation: exact COUNT(DISTINCT) per group.
    "q10_count_distinct" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_parts"),
             countDistinct($"l_suppkey").as("n_supps"))
    },

    // Streaming-analogue processing-time bucket agg (T1): tumbling
    // 1-hour windows over the events stream table, batch form.
    "q11_time_bucket" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour_bucket"),
                 $"event_type")
        .agg(count(lit(1)).as("n_events"),
             round(sum($"value"), 2).as("sum_value"))
    },

    // Scalar-function surface (X1 md5, X13 length, X14 upper, X16 format_string).
    "q12_scalar_funcs" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          md5($"text").as("text_md5"),
          upper($"lang").as("lang_up"),
          length($"text").as("text_len"),
          format_string("doc_%05d", $"doc_id").as("doc_tag"))
    },

    // Multi-way join through the full dim chain (region→nation→customer→orders).
    "q13_join_chain" -> { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_orders"),
             round(avg($"o_totalprice"), 2).as("avg_price"))
    },

    // Fact-to-dim join on the supplier axis: lineitem ⋈ supplier ⋈
    // nation with a selective filter that prunes before the join.
    "q14_supplier_volume" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_quantity" >= 30)
        .join(broadcast(Tables.supplier(s, d)), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // Grouping sets: per-(flag,status) subtotals plus per-flag rollups
    // and a grand total in one pass over the fact table.
    "q15_rollup" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(round(sum($"l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
          coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
          $"sum_qty", $"n_rows")
    },

    // Semi-structured JSON column: extract a typed field from the
    // event props and aggregate on it — the staple ETL shape for
    // payloads whose schema lives inside a string column. The
    // extraction is a pure projection (codegen'd JSON path, no UDF)
    // and the aggregate shuffles only (event_type, k-stats).
    "q16_json_extract" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select($"event_type",
          get_json_object($"props", "$.k").cast("int").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum($"k").as("sum_k"),
          round(avg($"k"), 6).as("avg_k"))
    },

    // Correlated scalar subquery — the one Catalyst rewrite family the
    // rest of the surface doesn't touch (RewriteCorrelatedScalarSubquery
    // decorrelates it into an aggregate + join; the .explain shows the
    // same brand-keyed plan a hand-written join would produce, which is
    // exactly the point: declare the subquery, let the optimizer pick
    // the join). Parts priced above 1.05× their own brand's average —
    // the TPC-H Q17 shape. Prices compare as integer CENTS: the
    // FLOOR(×100 + 0.5) conversion is the same double op on both
    // engines, integer sums are exact in ANY accumulation order (far
    // under 2⁵³), and AVG/×1.05 of an exact sum is one deterministic
    // double op each — no ROUND(double) in the threshold, whose
    // half-boundary semantics Spark and DuckDB genuinely disagree on.
    "q17_corr_subquery" -> { (s, d) =>
      Tables.part(s, d).createOrReplaceTempView("part_v")
      s.sql("""
        WITH pc AS (SELECT p_brand,
            CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
          FROM part_v)
        SELECT p.p_brand, COUNT(*) AS n_pricey, MAX(p.cents) AS max_cents
        FROM pc p
        WHERE p.cents > (SELECT 1.05 * AVG(p2.cents)
                         FROM pc p2 WHERE p2.p_brand = p.p_brand)
        GROUP BY p.p_brand""")
    },

    // Batch sessionization — the gaps-and-islands shape of event
    // analytics: a >30-min silence starts a new session; sessions are
    // numbered per user by a running sum of the break flags. All work
    // happens inside ONE user-keyed shuffle (lag, cumsum, and the
    // final per-session aggregate share the user_id partitioning), so
    // at 100 TB this scales with the largest single user's history,
    // not the corpus. Millisecond epoch arithmetic (µs-truncated in
    // both engines) keeps the oracle exact on nanosecond input.
    "evt_sessions" -> { (s, d) =>
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_id",
          expr("unix_micros(ts) div 1000").as("ts_ms"))
        .withColumn("prev", lag($"ts_ms", 1).over(byUser))
        .withColumn("brk",
          when($"prev".isNull || $"ts_ms" - $"prev" > SessionGapMs, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum($"brk").over(byUser.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy($"user_id", $"session_idx")
        .agg(count(lit(1)).as("n_events"),
          min($"ts_ms").as("start_ms"),
          (max($"ts_ms") - min($"ts_ms")).as("dur_ms"))
    },

    // Interval-overlap join WITHOUT an equi key — the operator class
    // (point-in-interval, both sides corpus-scaled) that naive plans
    // turn into a broadcast-nested-loop: for every session, the count
    // of events from OTHER users falling inside [start, end] — the
    // "how loaded was the system while this user was active"
    // concurrency question. Scale shape: the time axis is cut into
    // [[ConcurrencyBucketMs]] buckets and the bucket id becomes the
    // shuffle key. Each session fragments into its overlapped
    // buckets, split into INTERIOR buckets (fully covered by the
    // interval — proof in the fragment builder) and the ≤2 EDGE
    // buckets. Interior buckets never touch event rows: they join two
    // pre-aggregated relations (per-bucket counts, per-(bucket, user)
    // counts for the self-exclusion) that are orders of magnitude
    // below the event count. Only edge fragments meet raw events, on
    // the bucket equi key with the residual range re-applied — so the
    // event-row join degree is ≤2 buckets per session regardless of
    // session length. A globally hot hour is a salting/AQE-skew
    // candidate; the aggregates are map-side combinable either way.
    "evt_concurrency" -> { (s, d) =>
      import s.implicits._
      val B = ConcurrencyBucketMs
      val sess = sessionSpans(s, d)
      val evb = eventsMs(s, d).select($"user_id", $"ts_ms",
        expr(floorDivSql("ts_ms", B)).as("bkt"))
      // per-bucket and per-(bucket, user) event counts — the
      // pre-aggregated relations interior fragments join instead of
      // event rows (an interior bucket's events are in range BY
      // CONSTRUCTION: bkt ≥ b0+1 ⇒ bucket_lo ≥ (b0+1)·B > s_ms, and
      // bkt ≤ b1−1 ⇒ bucket_hi ≤ b1·B ≤ e_ms)
      val cb = evb.groupBy($"bkt").agg(count(lit(1)).as("cb"))
      val cbu = evb.groupBy($"bkt", $"user_id").agg(count(lit(1)).as("cbu"))
      val bounds = sess
        .withColumn("b0", expr(floorDivSql("s_ms", B)))
        .withColumn("b1", expr(floorDivSql("e_ms", B)))
      val interior = bounds
        .select($"user_id", $"session_idx",
          explode(when($"b1" - $"b0" >= 2, sequence($"b0" + 1, $"b1" - 1))
            .otherwise(expr("array()"))).as("bkt"))
        .join(cb, Seq("bkt"), "left")
        .join(cbu, Seq("bkt", "user_id"), "left")
        .groupBy($"user_id", $"session_idx")
        .agg(sum(coalesce($"cb", lit(0L)) - coalesce($"cbu", lit(0L)))
          .as("part"))
      val edge = bounds
        .select($"user_id", $"session_idx", $"s_ms", $"e_ms",
          explode(array_distinct(array($"b0", $"b1"))).as("bkt"))
        .join(evb.select($"bkt", $"ts_ms", $"user_id".as("e_user")),
          Seq("bkt"))
        .filter($"ts_ms" >= $"s_ms" && $"ts_ms" <= $"e_ms" &&
          $"e_user" =!= $"user_id")
        .groupBy($"user_id", $"session_idx")
        .agg(count(lit(1)).as("part"))
      val parts = interior.union(edge)
        .groupBy($"user_id", $"session_idx")
        .agg(sum($"part").as("n_concurrent"))
      sess.select($"user_id", $"session_idx")
        .join(parts, Seq("user_id", "session_idx"), "left")
        .select($"user_id", $"session_idx",
          coalesce($"n_concurrent", lit(0L)).as("n_concurrent"))
    },

    // The stored/served form of evt_concurrency (the
    // evt_value_quantiles_stored convention): the layout is written
    // once (bucket-clustered events under day directories + the two
    // count sidecars), and a SERVE-SLICE of sessions (users ≡ 0 mod
    // ConcServeMod — the shape where a caller asks for a few
    // sessions' concurrency, which is what the layout's pruning
    // exists for) answers from stored artifacts: interior legs from
    // the sidecars without touching an event row, edge legs from the
    // clustered events under a pushed (day, bkt) filter — directory-
    // pruned by day, row-group-pruned by the sorted bucket. Same
    // numbers as evt_concurrency restricted to the slice (the oracle
    // states exactly that); EventStream.concurrencyLayoutStream
    // maintains the layout under live ingest.
    "evt_concurrency_stored" -> { (s, d) =>
      concurrencyFromStored(s, d, concurrencyLayoutDir(s, d))
    },

    // The events family's takedown round trip (the *_purged
    // convention; the GDPR user-erasure shape): write the layout,
    // DELETE a user slice (edge legs via tombstones, interior legs
    // via the sidecar count subtraction — no event row read), serve —
    // deleted users' events count toward NOBODY's concurrency and
    // deleted users are not served. Oracle = the naive BETWEEN join
    // with both exclusions stated.
    "evt_concurrency_purged" -> { (s, d) =>
      import s.implicits._
      // snapshot-clone of the shared stored layout (build-once
      // attribution): clone + user-erasure + serve — the deployment
      // cost of a takedown against an EXISTING layout
      val dir = graft.operators.Similarity.storedQueryDir("conc_purge", d)
      graft.operators.Similarity.cloneIndexDir(s,
        concurrencyLayoutDir(s, d), dir, Seq("_graft_user_tombstones"))
      val purge = Similarity.PurgeMod
      deleteFromConcurrencyLayout(s, dir,
        eventsMs(s, d).select($"user_id")
          .filter($"user_id" % purge === Similarity.PurgeRes).distinct())
      concurrencyFromStored(s, d, dir,
        ownerPred = col("user_id") % purge =!= Similarity.PurgeRes)
    },

    // First-order behavior model — the Markov transition matrix over
    // event types (the user-journey modeling staple; evt_topk_paths'
    // distributional sibling): P(next = cur | prev), estimated from
    // every consecutive same-user event pair. The lag window and the
    // (prev, cur) count share the user-keyed exchange shape of
    // evt_sessions (per-user history bounds the sort, never the
    // corpus); the per-prev normalizer rolls up FROM the pair counts
    // (types² rows — no second corpus pass) and joins back on the
    // types-sized relation. round(6) on the ratio of exact integers.
    "evt_markov_transitions" -> { (s, d) =>
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
      val pairs = Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type",
          expr("unix_micros(ts) div 1000").as("ts_ms"))
        .withColumn("prev", lag($"event_type", 1).over(byUser))
        .filter($"prev".isNotNull)
      val cnt = pairs.groupBy($"prev", $"event_type".as("cur"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy($"prev").agg(sum($"n").as("n_prev"))
      cnt.join(tot, Seq("prev"))
        .select($"prev", $"cur", $"n",
          round($"n".cast("double") / $"n_prev", 6).as("p"))
    },

    // Cohort retention — the other event-analytics staple: users
    // cohorted by first active day, counted per (cohort day, day
    // offset). The raw event stream collapses MAP-SIDE to distinct
    // (user, day) pairs before the only wide exchange (partial-agg
    // dedup — a day's worth of one user's events leaves each split as
    // one row); the window-min cohort join and the final matrix
    // aggregate then move at most |users|·|active days| rows, already
    // orders of magnitude below the event count. Day arithmetic is
    // epoch-ms integer division on both engines (µs-truncated, same
    // as evt_sessions).
    "evt_retention" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select($"user_id",
          expr("unix_micros(ts) div 1000 div 86400000").as("day"))
        .distinct()
        .withColumn("cohort_day", min($"day").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"user_id")))
        .groupBy($"cohort_day", ($"day" - $"cohort_day").as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
    },

    // Ordered funnel (view → click → purchase): users counted at each
    // stage they reach IN ORDER — a click only counts if strictly
    // after the user's first view, a purchase only strictly after that
    // click. The sequential dependency makes this a 3-stage
    // join-reduce; every exchange is keyed user_id and each stage's
    // relation SHRINKS (stage-k users ⊆ stage-k-1 users), so the wide
    // event stream is touched once per stage as a pushdown-filtered
    // scan and everything downstream moves per-user scalars, never
    // event rows.
    "evt_funnel" -> { (s, d) =>
      import s.implicits._
      val e = Tables.events(s, d).select($"user_id", $"event_type",
        expr("unix_micros(ts) div 1000").as("ts_ms"))
      val v = e.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts_ms").as("v_ts"))
      val c = e.filter($"event_type" === "click").join(v, "user_id")
        .filter($"ts_ms" > $"v_ts")
        .groupBy($"user_id").agg(min($"ts_ms").as("c_ts"))
      val p = e.filter($"event_type" === "purchase").join(c, "user_id")
        .filter($"ts_ms" > $"c_ts")
        .groupBy($"user_id").agg(min($"ts_ms").as("p_ts"))
      v.select(lit(1).as("stage"), $"user_id")
        .union(c.select(lit(2).as("stage"), $"user_id"))
        .union(p.select(lit(3).as("stage"), $"user_id"))
        .groupBy($"stage").agg(count(lit(1)).as("n_users"))
    },

    // Top-k session journeys — the path-analysis staple: each session's
    // ordered event-type sequence becomes one path string, counted
    // across sessions, top PathTopK by frequency. The sessionization
    // window and the per-session path aggregate share ONE user-keyed
    // exchange (same shape as evt_sessions); the path-keyed count then
    // moves one row per SESSION (orders of magnitude below the event
    // count), and the final top-k is a TakeOrdered over the distinct-
    // path relation — no full sort. In-session order is pinned by
    // array_sort over (ts_ms, event_id, type) structs: event_id is
    // unique, so ordering is total and engine-independent.
    "evt_topk_paths" -> { (s, d) =>
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type",
          expr("unix_micros(ts) div 1000").as("ts_ms"))
        .withColumn("prev", lag($"ts_ms", 1).over(byUser))
        .withColumn("brk",
          when($"prev".isNull || $"ts_ms" - $"prev" > SessionGapMs, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum($"brk").over(byUser.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy($"user_id", $"session_idx")
        .agg(concat_ws(">", transform(
          array_sort(collect_list(struct($"ts_ms", $"event_id", $"event_type"))),
          e => e.getField("event_type"))).as("path"))
        .groupBy($"path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy($"n_sessions".desc, $"path".asc)
        .limit(PathTopK)
    },

    // Engagement stickiness — per observed day, DAU, trailing-
    // MauWindowDays MAU, and their ratio. The scale move: distinct-
    // users-over-a-sliding-window is NOT a window function over events
    // (that buffers a month of events per partition); the event stream
    // collapses ONCE to distinct (user, day) — map-side combinable,
    // the evt_retention shape — and each user-day then feeds the ≤30
    // window days it contributes to via a bounded explode. Both
    // distincts and both counts are ordinary keyed aggs; every
    // intermediate is |user-days|·30 at worst, orders of magnitude
    // below the event count. (The approximate alternative at extreme
    // scale: per-day HLL sketches merged over the window — mergeable,
    // but not oracle-exact.) The inner join keeps only observed days,
    // so the window never reports past the corpus. stickiness is the
    // raw IEEE quotient of two identical BIGINTs — bit-equal cross-
    // engine, no rounding needed.
    "evt_dau_mau" -> { (s, d) =>
      import s.implicits._
      val ud = Tables.events(s, d)
        .select($"user_id",
          expr("unix_micros(ts) div 1000 div 86400000").as("day"))
        .distinct()
      val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
      val mau = ud
        .select($"user_id",
          explode(sequence($"day", $"day" + lit(MauWindowDays - 1L))).as("day"))
        .distinct()
        .groupBy($"day").agg(count(lit(1)).as("mau"))
      dau.join(mau, "day")
        .select($"day", $"dau", $"mau",
          ($"dau".cast("double") / $"mau".cast("double")).as("stickiness"))
    },

    // Windowed conversion funnel — evt_funnel with a per-stage
    // conversion DEADLINE (the product-analytics norm: a click only
    // converts within AttribWindowMs of the first view, a purchase
    // within AttribWindowMs of that click). Same shrinking user-keyed
    // join-reduce shape as evt_funnel — each stage's relation is a
    // subset of the last, per-user scalars move after the first
    // pushdown-filtered scans — plus exact BIGINT lag mass per stage
    // (sum of conversion delays; integer, so hash-exact cross-engine
    // with no rounding). Stage mins are consistent: v_ts is constant
    // per user, so min(ts) and min(ts - v_ts) pick the same event.
    "evt_funnel_windowed" -> { (s, d) =>
      import s.implicits._
      val e = Tables.events(s, d).select($"user_id", $"event_type",
        expr("unix_micros(ts) div 1000").as("ts_ms"))
      val v = e.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts_ms").as("v_ts"))
      val c = e.filter($"event_type" === "click").join(v, "user_id")
        .filter($"ts_ms" > $"v_ts" && $"ts_ms" <= $"v_ts" + AttribWindowMs)
        .groupBy($"user_id")
        .agg(min($"ts_ms").as("c_ts"), min($"ts_ms" - $"v_ts").as("c_lag"))
      val p = e.filter($"event_type" === "purchase").join(c, "user_id")
        .filter($"ts_ms" > $"c_ts" && $"ts_ms" <= $"c_ts" + AttribWindowMs)
        .groupBy($"user_id").agg(min($"ts_ms" - $"c_ts").as("p_lag"))
      v.select(lit(1L).as("stage"), $"user_id", lit(0L).as("lag"))
        .union(c.select(lit(2L).as("stage"), $"user_id", $"c_lag".as("lag")))
        .union(p.select(lit(3L).as("stage"), $"user_id", $"p_lag".as("lag")))
        .groupBy($"stage")
        .agg(count(lit(1)).as("n_users"), sum($"lag").as("sum_lag_ms"))
    },

    // As-of join — each purchase attributed to the user's most recent
    // click at-or-before it in the (ts_ms, event_id) total order, the
    // classic attribution/point-in-time lookup. The scale move: an
    // as-of join is NOT an inequality join (a theta join materializes
    // |purchases|x|clicks| candidates per user before filtering) — both
    // event streams ride ONE user-keyed exchange, sorted once, and the
    // running last-non-null window IS the as-of lookup: each row costs
    // O(1) beyond the sort, so per-user cost is the user's own event
    // count, independent of corpus size. The type filter lands before
    // the shuffle (pushdown-eligible), so only click/purchase rows move.
    // The two last() calls pick from the same row (null on exactly the
    // same rows), keeping (click_id, click_ts_ms) consistent.
    // Unattributed purchases (no prior click) keep -1 sentinels rather
    // than NULLs so every output column stays a non-null BIGINT
    // (type-stable through the driver's pandas compare on both engines).
    "evt_asof" -> { (s, d) => asofAuto(s, d) },

    // Bounded range join — per purchase, the count and cent-exact value
    // mass of the user's clicks inside the trailing attribution window
    // [p_ts - AttribWindowMs, p_ts). The scale move: a range join by
    // BINNING — each click is exploded to exactly two window-width
    // buckets (its own and the next), purchases keep their one bucket,
    // and the equi-join on (user, bucket) carries the range predicate
    // as a residual filter. The theta join's cross product never
    // materializes: candidates per purchase are bounded by one user's
    // clicks in two buckets, so the join stays an ordinary hash/sort-
    // merge equi-join at any corpus size (the epsilon-join binning
    // construction). A (purchase, click) pair can meet in at most one
    // bucket — the two exploded copies carry distinct bucket values —
    // so no dedup pass is needed. Value mass is summed in BIGINT cents
    // (FLOOR(v*100+0.5), the q17 convention) so cross-engine float
    // summation order can't flip the hash; zero-click purchases stay in
    // the result via the left join with count/sum pinned to 0.
    "evt_attrib_window" -> { (s, d) =>
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type",
          expr("unix_micros(ts) div 1000").as("ts_ms"),
          expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("cents"))
      val p = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts_ms",
          expr(floorDivSql("ts_ms", AttribWindowMs)).as("bkt"))
      val c = e.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts_ms".as("c_ts"), $"cents",
          explode(array(expr(floorDivSql("ts_ms", AttribWindowMs)),
            expr(s"${floorDivSql("ts_ms", AttribWindowMs)} + 1L")))
            .as("c_bkt"))
      p.join(c, $"user_id" === $"c_user" && $"bkt" === $"c_bkt" &&
          $"c_ts" >= $"ts_ms" - AttribWindowMs && $"c_ts" < $"ts_ms", "left")
        .groupBy($"user_id", $"event_id", $"ts_ms")
        .agg(count($"c_ts").as("n_clicks"),
          coalesce(sum($"cents"), lit(0L)).as("click_cents"))
        .select($"user_id", $"event_id".as("purchase_id"),
          $"ts_ms".as("p_ts_ms"), $"n_clicks", $"click_cents")
    },

    // Daily-volume anomaly flags — the pipeline-health tripwire: per
    // event type, each day's event count scored against that type's
    // own mean/stddev, |z| > ZScoreThreshold flagged. The moments
    // derive from INTEGER sums (n, Σc, Σc²) — exact and order-free, so
    // μ/σ/z are bit-identical cross-engine with no rounding at all;
    // σ=0 (constant series) pins z to 0 on both sides, and the
    // variance is GREATEST-clamped against last-ulp cancellation
    // before the sqrt. Scale shape: events collapse to (type, day)
    // counts map-side; the per-type stats are a types-sized relation
    // broadcast back — never a window over the daily series.
    "evt_anomaly" -> { (s, d) =>
      import s.implicits._
      val daily = Tables.events(s, d)
        .select($"event_type",
          expr("unix_micros(ts) div 1000 div 86400000").as("day"))
        .groupBy($"event_type", $"day").agg(count(lit(1)).as("cnt"))
      val stats = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"cnt").as("sc"),
          sum($"cnt" * $"cnt").as("sc2"))
      val mu = $"sc".cast("double") / $"n".cast("double")
      val sd = sqrt(greatest(
        $"sc2".cast("double") / $"n".cast("double") - mu * mu, lit(0.0)))
      daily.join(broadcast(stats), Seq("event_type"))
        .select($"event_type", $"day", $"cnt",
          when(sd === 0.0, 0.0)
            .otherwise(($"cnt".cast("double") - mu) / sd).as("z"))
        .withColumn("is_anomaly",
          when(abs($"z") > ZScoreThreshold, 1L).otherwise(0L))
    },

    // Declarative data-quality audit (the Deequ/dbt-tests shape): the
    // constraint suite a pipeline runs before trusting a snapshot —
    // key uniqueness, referential integrity, domain ranges, payload
    // sanity — as ONE union of independent 1-row aggregates, each a
    // map-side-combinable agg or a broadcast anti-join on its own
    // table, so the audit costs one narrow pass per (table, check)
    // and parallelizes across checks. Output is (chk, metric, pass):
    // metric = violation COUNT (not a boolean — the triage number),
    // pass = metric == 0.
    "pipe_data_audit" -> { (s, d) =>
      import s.implicits._
      val orders = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val li = Tables.lineitem(s, d)
      def one(chk: String, m: DataFrame): DataFrame =
        m.select(lit(chk).as("chk"), col(m.columns.head).cast("long").as("metric"))
      val checks = Seq(
        one("pk_dup_orders", orders.agg(
          (count(lit(1)) - countDistinct($"o_orderkey")).as("m"))),
        one("pk_dup_customer", cust.agg(
          (count(lit(1)) - countDistinct($"c_custkey")).as("m"))),
        // left_anti counts NULL-key rows as orphans (a null key can
        // never match) — the oracle restates this with NOT EXISTS,
        // whose three-valued logic agrees with left_anti, where NOT IN
        // would silently drop every row once the subquery sees a NULL.
        // The null keys themselves also get their own explicit check
        // (a null FK is a data bug distinct from a dangling one).
        one("fk_orphan_orders", orders
          .join(cust, $"o_custkey" === $"c_custkey", "left_anti")
          .agg(count(lit(1)).as("m"))),
        one("fk_orphan_lineitem", li
          .join(orders, $"l_orderkey" === $"o_orderkey", "left_anti")
          .agg(count(lit(1)).as("m"))),
        one("fk_null_orders", orders.filter($"o_custkey".isNull)
          .agg(count(lit(1)).as("m"))),
        one("fk_null_lineitem", li.filter($"l_orderkey".isNull)
          .agg(count(lit(1)).as("m"))),
        one("range_bad_quantity", li.filter($"l_quantity" <= 0)
          .agg(count(lit(1)).as("m"))),
        one("events_bad_value", Tables.events(s, d)
          .filter($"value".isNull || isnan($"value"))
          .agg(count(lit(1)).as("m"))),
        one("docs_empty_text", Tables.documents(s, d)
          .filter($"text".isNull || length($"text") === 0)
          .agg(count(lit(1)).as("m"))),
        one("docs_dup_text", Tables.documents(s, d).agg(
          (count(lit(1)) - countDistinct(md5(coalesce($"text", lit("")))))
            .as("m"))))
      checks.reduce(_.unionByName(_))
        .withColumn("pass", when($"metric" === 0, 1L).otherwise(0L))
    },

    // Exact order-statistic quantiles over a CONTINUOUS value domain —
    // the companion to txt_len_quantiles' bounded-domain histogram:
    // events.value has corpus-many distinct doubles, so no one-shot
    // histogram is exact and percentile()'s hold-every-value buffer is
    // the 100 TB anti-pattern. Iterated histogram bisection instead
    // (the classic distributed exact-quantile algorithm): each level
    // bins only the rows inside the active (type, q) ranges, the
    // driver walks the bounded (types × qs × bins) counts to pick each
    // target's bin, and the child range is the bin's ACTUAL
    // [min, max] — so bookkeeping is exact by construction, immune to
    // float edge effects in the bin formula (bin assignment is
    // monotone in value, so a bin's value interval selects exactly its
    // rows). min < max ⇒ bins 0 and B−1 both nonempty ⇒ strict
    // shrink every level; min = max ⇒ all remaining values equal ⇒
    // done. Levels = log_B(n/cap) ≈ 2 at 100 TB; the final ≤cap
    // in-range slice is fetched and indexed. All driver state is
    // bounded: types × qs targets, bins-sized histograms, cap-sized
    // final slices (the BPE capped-driver-merge discipline).
    "evt_value_quantiles" -> { (s, d) =>
      import s.implicits._
      exactValueQuantiles(
        Tables.events(s, d).select($"event_type", $"value"),
        ValueQuantileQs)
    },

    // the stored/served form: the level-1 histogram is a bounded
    // persisted relation (see writeQuantileHist), the probe walks it
    // driver-side and touches the raw table only for its chosen bins'
    // rows — same answers by construction, oracle shared verbatim;
    // MicroBatch.start over mergeIntoQuantileHist maintains it under
    // live ingest
    "evt_value_quantiles_stored" -> { (s, d) =>
      import s.implicits._
      val dir = graft.operators.Similarity.storedQueryDir("qhist", d)
      val ev = Tables.events(s, d).select($"event_type", $"value")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      writeQuantileHist(ev, dir)
      quantilesFromStoredHist(s, dir, ev, ValueQuantileQs)
    })

  /** Quantile targets for evt_value_quantiles (k = ⌈q·n⌉-th smallest,
    * q·n through IEEE doubles on BOTH engines — the ceil-parity note).
    */
  val ValueQuantileQs: Seq[Double] = Seq(0.5, 0.95, 0.99)

  /** The concurrency restatement (sessionization chain + naive
    * point-in-interval LEFT JOIN), shared by the session and stored
    * oracles — `where` slices the served sessions.
    */
  private def concurrencySql(where: String): String =
    concurrencySql(where, "")

  private def concurrencySql(where: String, countedPred: String): String =
    s"""WITH e AS (SELECT user_id, event_id,
          epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms
          FROM events),
        b AS (SELECT user_id, event_id, ts_ms,
          CASE WHEN lag(ts_ms) OVER w IS NULL
            OR ts_ms - lag(ts_ms) OVER w > $SessionGapMs
          THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        sx AS (SELECT user_id, ts_ms,
          SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM b),
        sess AS (SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
          MIN(ts_ms) AS s_ms, MAX(ts_ms) AS e_ms
          FROM sx GROUP BY user_id, session_idx)
        SELECT s.user_id, s.session_idx,
          COUNT(e2.ts_ms) AS n_concurrent
        FROM sess s LEFT JOIN e e2
          ON e2.ts_ms BETWEEN s.s_ms AND s.e_ms
          AND e2.user_id <> s.user_id
          $countedPred
        $where
        GROUP BY s.user_id, s.session_idx"""

  private lazy val quantileOracleSql: String = {
    val qvals = ValueQuantileQs
      .map(q => s"(CAST($q AS DOUBLE))").mkString(", ")
    s"""WITH ranked AS (SELECT event_type, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events WHERE value IS NOT NULL),
        qs(q) AS (SELECT * FROM (VALUES $qvals))
        SELECT event_type, q, value FROM ranked JOIN qs
          ON rn = GREATEST(1, CAST(CEIL(q * n) AS BIGINT))"""
  }
  val QuantileBins = 1024
  /** A target stops refining once its range holds ≤ this many rows;
    * the final slice is collected and indexed (cap × targets doubles
    * of driver memory, bounded).
    */
  val QuantileCap = 65536
  private val QuantileMaxLevels = 64

  private final class QTarget(val tpe: String, val q: Double, var k: Long,
    var lo: Double, var hi: Double, var cnt: Long,
    var done: Boolean, var ans: Double)

  private def mkTarget(tpe: String, q: Double, k: Long,
      lo: Double, hi: Double, cnt: Long): QTarget = {
    val t = new QTarget(tpe, q, k, lo, hi, cnt, false, lo)
    if (lo == hi) { t.done = true; t.ans = lo }
    t
  }

  /** See the evt_value_quantiles scaladoc. `ev` must be
    * (key STRING, value DOUBLE); returns (event_type, q, value) with
    * value = the exact ⌈q·n⌉-th smallest per key (nulls excluded).
    */
  private[operators] def exactValueQuantiles(ev0: DataFrame,
      qs: Seq[Double], cap: Int = QuantileCap): DataFrame = {
    val s = ev0.sparkSession
    import s.implicits._
    val ev = ev0.toDF("event_type", "value").filter($"value".isNotNull)
    val targets: Seq[QTarget] = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), min($"value").as("mn"),
        max($"value").as("mx"))
      .as[(String, Long, Double, Double)].collect().toSeq
      .flatMap { case (tpe, n, mn, mx) =>
        qs.map(q => mkTarget(tpe, q,
          math.max(1L, math.ceil(q * n).toLong), mn, mx, n))
      }
    refineTargets(ev, targets, cap)
  }

  /** The shared bisection kernel: refine every target to ≤cap rows
    * (or a constant range), fetch and index the final slices. See the
    * evt_value_quantiles scaladoc for the exactness argument.
    */
  private def refineTargets(ev: DataFrame, targets: Seq[QTarget],
      cap: Int): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    def activeBig = targets.filter(t => !t.done && t.cnt > cap)
    var level = 0
    while (activeBig.nonEmpty && level < QuantileMaxLevels) {
      level += 1
      val act = activeBig
      val ranges = broadcast(act.map(t => (t.tpe, t.q, t.lo, t.hi))
        .toDF("tpe", "q", "lo", "hi"))
      val hists = ev
        .join(ranges, $"event_type" === $"tpe" &&
          $"value" >= $"lo" && $"value" <= $"hi")
        .withColumn("bin", least(floor(($"value" - $"lo") *
          lit(QuantileBins.toDouble) / ($"hi" - $"lo")),
          lit((QuantileBins - 1).toDouble)).cast("long"))
        .groupBy($"tpe", $"q", $"bin")
        .agg(count(lit(1)).as("c"), min($"value").as("bmn"),
          max($"value").as("bmx"))
        .as[(String, Double, Long, Long, Double, Double)].collect()
        .groupBy(r => (r._1, r._2))
      for (t <- act) {
        val bins = hists((t.tpe, t.q)).sortBy(_._3)
        var cum = 0L
        var i = 0
        while (cum + bins(i)._4 < t.k) { cum += bins(i)._4; i += 1 }
        val (_, _, _, c, bmn, bmx) = bins(i)
        t.k -= cum; t.lo = bmn; t.hi = bmx; t.cnt = c
        if (bmn == bmx) { t.done = true; t.ans = bmn }
      }
    }
    require(activeBig.isEmpty,
      s"quantile bisection did not converge in $QuantileMaxLevels levels")
    val rem = targets.filter(!_.done)
    if (rem.nonEmpty) {
      val ranges = broadcast(rem.map(t => (t.tpe, t.q, t.lo, t.hi))
        .toDF("tpe", "q", "lo", "hi"))
      val slices = ev
        .join(ranges, $"event_type" === $"tpe" &&
          $"value" >= $"lo" && $"value" <= $"hi")
        .groupBy($"tpe", $"q")
        .agg(sort_array(collect_list($"value")).as("vs"))
        .as[(String, Double, Seq[Double])].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      for (t <- rem) { t.ans = slices((t.tpe, t.q))(t.k.toInt - 1); t.done = true }
    }
    targets.map(t => (t.tpe, t.q, t.ans))
      .toDF("event_type", "q", "value")
  }

  /** Stored level-1 quantile histogram — the SERVING form of
    * evt_value_quantiles: the full-corpus scan that seeds the
    * bisection is prepaid at build time as a bounded
    * (type, bin, cnt, bmn, bmx) relation plus a per-type stats row
    * (n, mn, mx, emn, emx — emn/emx are the FROZEN bin edges, the
    * frozen-quantizer discipline), so a probe starts one level in and
    * touches the raw table only for its chosen bins' rows. Exact: the
    * stored bins are the same partition of the multiset the session
    * path's first level would build, so the probe's answers are
    * identical and the stored query shares the oracle verbatim.
    *
    * Merges keep exactness under streaming ingest: a batch bins
    * against the FROZEN edges with out-of-range values CLAMPED into
    * the edge bins — bins remain value-ordered disjoint intervals
    * whose [bmn, bmx] reflect actual values (interval selection stays
    * exact); counts add, bmn/bmx min/max — the CMS/KMV merge-algebra
    * discipline, order-independent. New types freeze their own edges
    * on first sight. Both relations stage into one sibling dir and
    * swap together through [[StoredRoot.replace]] (a crash can never
    * leave stats counting rows the histogram does not).
    */
  def writeQuantileHist(ev0: DataFrame, dir: String): Unit =
    mergeIntoQuantileHist(ev0, dir)

  def mergeIntoQuantileHist(batch0: DataFrame, dir: String): Unit = {
    val s = batch0.sparkSession
    import s.implicits._
    val batch = batch0.toDF("event_type", "value").filter($"value".isNotNull)
    StoredRoot.replace(s, dir) { staging =>
      val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
      val fs = statsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val stored: Map[String, (Long, Double, Double, Double, Double)] =
        if (!fs.exists(statsPath)) Map.empty
        else s.read.parquet(statsPath.toString)
          .as[(String, Long, Double, Double, Double, Double)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
      val bStats = batch.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), min($"value").as("mn"),
          max($"value").as("mx"))
        .as[(String, Long, Double, Double)].collect()
      val mergedStats = {
        val m = scala.collection.mutable.Map(stored.toSeq: _*)
        for ((tpe, n, mn, mx) <- bStats) m.get(tpe) match {
          case Some((n0, mn0, mx0, emn, emx)) =>
            m(tpe) = (n0 + n, math.min(mn0, mn), math.max(mx0, mx), emn, emx)
          case None => m(tpe) = (n, mn, mx, mn, mx)
        }
        m.toMap
      }
      // batch histogram against the FROZEN edges, clamped both ends
      val edges = broadcast(mergedStats.toSeq
        .map { case (tpe, (_, _, _, emn, emx)) => (tpe, emn, emx) }
        .toDF("tpe", "emn", "emx"))
      val bHist = batch.join(edges, $"event_type" === $"tpe")
        .withColumn("bin", least(greatest(floor(($"value" - $"emn") *
          lit(QuantileBins.toDouble) /
          greatest($"emx" - $"emn", lit(java.lang.Double.MIN_VALUE))),
          lit(0.0)), lit((QuantileBins - 1).toDouble)).cast("long"))
        .groupBy($"event_type", $"bin")
        .agg(count(lit(1)).as("cnt"), min($"value").as("bmn"),
          max($"value").as("bmx"))
      val histPath = s"$dir/hist"
      val merged =
        if (!fs.exists(new org.apache.hadoop.fs.Path(histPath))) bHist
        else s.read.parquet(histPath).unionByName(bHist)
          .groupBy($"event_type", $"bin")
          .agg(sum($"cnt").as("cnt"), min($"bmn").as("bmn"),
            max($"bmx").as("bmx"))
      merged.write.parquet(s"$staging/hist")
      mergedStats.toSeq
        .map { case (tpe, (n, mn, mx, emn, emx)) => (tpe, n, mn, mx, emn, emx) }
        .toDF("event_type", "n", "mn", "mx", "emn", "emx")
        .write.parquet(s"$staging/stats")
    }
  }

  /** Probe the stored histogram: walk the bounded stored bins to one
    * level in, then refine on the raw relation exactly like the
    * session path. Same answers by construction (shared oracle).
    */
  def quantilesFromStoredHist(s: SparkSession, dir: String, ev0: DataFrame,
      qs: Seq[Double], cap: Int = QuantileCap): DataFrame = {
    import s.implicits._
    val ev = ev0.toDF("event_type", "value").filter($"value".isNotNull)
    val stats = s.read.parquet(s"$dir/stats")
      .as[(String, Long, Double, Double, Double, Double)].collect()
    val hist = s.read.parquet(s"$dir/hist")
      .as[(String, Long, Long, Double, Double)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2) }
    val targets = stats.toSeq.flatMap { case (tpe, n, mn, mx, _, _) =>
      qs.map { q =>
        val k0 = math.max(1L, math.ceil(q * n).toLong)
        if (mn == mx) mkTarget(tpe, q, k0, mn, mx, n)
        else {
          val bins = hist(tpe)
          var cum = 0L
          var i = 0
          while (cum + bins(i)._3 < k0) { cum += bins(i)._3; i += 1 }
          val (_, _, c, bmn, bmx) = bins(i)
          mkTarget(tpe, q, k0 - cum, bmn, bmx, c)
        }
      }
    }
    refineTargets(ev, targets, cap)
  }

  /** Session gap bound for evt_sessions (the reference DAG's 30-minute
    * cadence, `dags/dag.py:39-40`, reused as the session timeout).
    */
  val SessionGapMs = 1800000L

  /** Result size for evt_topk_paths. */
  val PathTopK = 20

  /** Time-bucket width for evt_concurrency's interval-overlap join
    * (1 hour). The bucket is the shuffle key that makes a no-equi-key
    * interval join shuffle-bounded; a session fans out to
    * (duration / bucket) fragments, and the gap rule bounds duration
    * by the session's own event count — never the corpus.
    */
  val ConcurrencyBucketMs = 3600000L

  /** Floor-division SQL fragment for bucket/day assignment. SQL `div`
    * truncates TOWARD ZERO, which for negative (pre-1970) epochs
    * breaks the containment invariant the interval decompositions
    * rest on (ts ≥ bkt·B no longer holds once bkt rounds up) and
    * makes bucket 0 span 2B−1 ms — interior/binned legs would
    * mis-count relative to the naive range-predicate oracle. The
    * double-mod form is exact integer floor division for any sign of
    * the dividend (divisor positive); for nonnegative epochs it
    * agrees with `div`, so fixture outputs are unchanged.
    */
  private[operators] def floorDivSql(x: String, b: Long): String =
    s"(($x) - ((($x) % $b) + $b) % $b) div $b"

  /** Serve-slice modulus for evt_concurrency_stored: sessions of
    * users ≡ 0 (mod this) are the probe batch — the serving shape
    * where a caller asks for a FEW sessions' concurrency, which is
    * what the stored layout's pruning exists for.
    */
  val ConcServeMod = 11L

  /** (day, bkt) literal-pushdown cap for the stored concurrency
    * probe's edge scan (the MinhashPushdownCap convention).
    */
  val ConcPushdownCap = 65536

  /** (user_id, event_id, ts_ms) projection of the events table — the
    * shared scan entry of the session/concurrency family.
    */
  private def eventsMs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d).select($"user_id", $"event_id",
      expr("unix_micros(ts) div 1000").as("ts_ms"))
  }

  /** Session intervals (user_id, session_idx, s_ms, e_ms) under the
    * evt_sessions gap rule — ONE derivation shared by evt_concurrency
    * and its stored/served form, so the two can never sessionize
    * differently. `pred` pre-filters users BEFORE the window (session
    * membership depends only on the same user's events, so a user
    * slice commutes with the derivation).
    */
  private[operators] def sessionSpans(s: SparkSession, d: String,
      pred: Column = lit(true)): DataFrame = {
    import s.implicits._
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
    eventsMs(s, d).filter(pred)
      .withColumn("prev", lag($"ts_ms", 1).over(byUser))
      .withColumn("brk",
        when($"prev".isNull || $"ts_ms" - $"prev" > SessionGapMs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum($"brk").over(byUser.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy($"user_id", $"session_idx")
      .agg(min($"ts_ms").as("s_ms"), max($"ts_ms").as("e_ms"))
  }

  /** Write the stored concurrency layout fresh: bucket-clustered
    * events (day directories, bucket-sorted files — the probe's edge
    * scan prunes directories by day and row groups by the sorted
    * bucket) plus the two count sidecars interior fragments read
    * instead of event rows. One definition with the append path.
    */
  def writeConcurrencyLayout(s: SparkSession, d: String, dir: String): Unit = {
    // self-cleaning: "write" means a FRESH layout — a leftover dir
    // under append semantics would silently double every event
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    appendToConcurrencyLayout(s,
      eventsMs(s, d).select(col("user_id"), col("ts_ms")), dir)
  }

  /** The session's shared stored concurrency layout, written at most
    * once per (session, corpus) — build-once attribution (the
    * writeLexIndexOnce convention, r18): the stored serve reads it
    * directly, the takedown query snapshots it by file clone
    * (tombstones never land on the shared base).
    */
  private val concLayoutOnce = new SessionCache[String]()
  private def concurrencyLayoutDir(s: SparkSession, d: String): String =
    concLayoutOnce.getOrBuild(s, d) {
      val dir = graft.operators.Similarity.storedQueryDir("conc", d)
      writeConcurrencyLayout(s, d, dir)
      dir
    }

  /** Append a batch of (user_id, ts_ms) events to a stored
    * concurrency layout — the live-ingest half
    * ([[graft.streaming.EventStream.concurrencyLayoutStream]]):
    * events land FIRST (day-partitioned, bucket-sorted files), then
    * the count sidecars merge by the counts-add algebra under
    * [[StoredRoot.replace]]. A crash BETWEEN the two leaves the
    * sidecars stale-low for the appended buckets — interior legs
    * UNDERCOUNT until [[repairConcurrencyLayout]] recomputes counts
    * from the stored events (the repairLexIndex convention; the
    * append order makes the window under-count, never double-count).
    * `mergeCounts = false` is the spec's crash-window hook.
    */
  def appendToConcurrencyLayout(s: SparkSession, batch0: DataFrame,
      dir: String, mergeCounts: Boolean = true): Unit = {
    import s.implicits._
    val B = ConcurrencyBucketMs
    // the projected batch feeds THREE actions (the clustered events
    // write, then the cb and cbu sidecar aggregates): unpersisted,
    // each re-scanned the source events and re-derived bkt/day
    // (measured in the r19 lifecycle breakdown, OPTIMIZATION_r19.md —
    // the layout write was 2.3 s of the purged line). Narrow (4 columns);
    // persist across the actions of this one maintenance op.
    val batch = batch0.select(col("user_id"), col("ts_ms"))
      .withColumn("bkt", expr(floorDivSql("ts_ms", B)))
      .withColumn("day", expr(floorDivSql("bkt", 24L)).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      batch.repartition($"day").sortWithinPartitions($"day", $"bkt")
        .write.mode("append").partitionBy("day").parquet(s"$dir/events")
      if (mergeCounts) mergeConcurrencyCounts(s, batch, dir)
    } finally batch.unpersist(blocking = false)
  }

  private def mergeConcurrencyCounts(s: SparkSession, batch: DataFrame,
      dir: String): Unit =
    StoredRoot.replace(s, s"$dir/counts") { staging =>
      import s.implicits._
      val countsPath = new org.apache.hadoop.fs.Path(s"$dir/counts")
      val bcb = batch.groupBy($"bkt").agg(count(lit(1)).as("cb"))
      val bcbu = batch.groupBy($"bkt", $"user_id").agg(count(lit(1)).as("cbu"))
      val (mcb, mcbu) =
        if (!countsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
            .exists(countsPath)) (bcb, bcbu)
        else (
          s.read.parquet(s"$countsPath/cb").unionByName(bcb)
            .groupBy($"bkt").agg(sum($"cb").as("cb")),
          s.read.parquet(s"$countsPath/cbu").unionByName(bcbu)
            .groupBy($"bkt", $"user_id").agg(sum($"cbu").as("cbu")))
      mcb.write.parquet(s"$staging/cb")
      mcbu.write.parquet(s"$staging/cbu")
    }

  /** Rebuild the count sidecars FROM the stored events — restores
    * consistency after an append crash (stale-low counts), exactly as
    * a fresh [[writeConcurrencyLayout]] over the same events would
    * have written them.
    */
  def repairConcurrencyLayout(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val ev = storedConcEvents(s, dir).select($"user_id", $"ts_ms", $"bkt")
    StoredRoot.replace(s, s"$dir/counts") { staging =>
      ev.groupBy($"bkt").agg(count(lit(1)).as("cb"))
        .write.parquet(s"$staging/cb")
      ev.groupBy($"bkt", $"user_id").agg(count(lit(1)).as("cbu"))
        .write.parquet(s"$staging/cbu")
    }
  }

  /** The clustered event relation with its partition-column type
    * pinned (the readIvfIndex note: inferred dir values defeat
    * pruning), MINUS any user tombstones — applied centrally so every
    * reader of the stored events (edge scans, sidecar repair,
    * compaction) sees the same post-takedown relation. The anti-join
    * sits on the scan side of the pushed (day, bkt) filters, which
    * push through its left side, so pruning survives deletion.
    */
  private def storedConcEvents(s: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_ms",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bkt",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.IntegerType)))
    val rows = s.read.schema(schema).parquet(s"$dir/events")
    val tp = new org.apache.hadoop.fs.Path(concUserTombstonesPath(dir))
    if (!tp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(tp)) rows
    else rows.join(
      s.read.schema("user_id BIGINT").parquet(tp.toString),
      Seq("user_id"), "left_anti")
  }

  private def concUserTombstonesPath(dir: String): String =
    s"$dir/_graft_user_tombstones"

  /** USER-level takedown against a stored concurrency layout — the
    * GDPR shape for the events family (the deleteFromIndex convention
    * with a twist: the layout's derived state is count algebra, not
    * rows, so the sidecars SUBTRACT instead of anti-joining): the
    * deleted users' per-bucket event counts are exactly their cbu
    * sidecar rows, so the cb decrement costs one sidecar-sized merge —
    * no event row is read. Edge scans drop the users via the central
    * tombstone anti-join in [[storedConcEvents]]. From the next serve
    * on, a deleted user's events count toward NOBODY's concurrency.
    *
    * Ordering + crash window: tombstones land FIRST (edge legs stop
    * answering immediately), then both sidecars swap in one
    * [[StoredRoot.replace]]. A
    * crash between the two leaves interior legs stale-HIGH for the
    * deleted users' contributions; RE-RUNNING the delete converges
    * (the users' cbu rows are gone after the first completed swap, so
    * the subtraction is naturally idempotent), and
    * [[repairConcurrencyLayout]] — which recomputes sidecars from the
    * tombstone-filtered events — is the full-rebuild fallback.
    * Physical purge of the tombstoned event rows is
    * [[compactConcurrencyLayout]]. Single-writer, like every stored
    * maintainer here.
    */
  def deleteFromConcurrencyLayout(s: SparkSession, dir: String,
      userIds: DataFrame): Unit = {
    import s.implicits._
    // the id relation feeds THREE actions (tombstone write, the cb
    // subtraction's semi-join, the cbu anti-join): unpersisted, each
    // re-evaluated the caller's derivation — for the declared purged
    // query that was a full events scan + distinct PER USE (measured,
    // r19 lifecycle breakdown). Ids are takedown-request-sized; persist
    // across the actions of this one maintenance op.
    val ids = userIds
      .select(col(userIds.columns.head).cast("long").as("user_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ids.coalesce(1).write.mode("append")
        .parquet(concUserTombstonesPath(dir))
      StoredRoot.replace(s, s"$dir/counts") { staging =>
        val cbu = s.read.parquet(s"$dir/counts/cbu")
        val deleted = cbu.join(ids, Seq("user_id"), "left_semi")
        s.read.parquet(s"$dir/counts/cb")
          .join(deleted.groupBy($"bkt").agg(sum($"cbu").as("dcnt")),
            Seq("bkt"), "left")
          .select($"bkt", ($"cb" - coalesce($"dcnt", lit(0L))).as("cb"))
          .filter($"cb" > 0)
          .write.parquet(s"$staging/cb")
        cbu.join(ids, Seq("user_id"), "left_anti")
          .write.parquet(s"$staging/cbu")
      }
    } finally ids.unpersist(blocking = false)
  }

  /** Physically purge tombstoned users' event rows from a stored
    * concurrency layout: rewrite the day-partitioned, bucket-sorted
    * events minus the tombstones ([[StoredRoot.replace]] — a crash before
    * the swap leaves the old layout intact; the tombstone anti-join
    * keeps answers right either way), then clear the tombstones LAST.
    * Sidecars are already post-delete ([[deleteFromConcurrencyLayout]]
    * swapped them), so compaction changes no answer.
    */
  def compactConcurrencyLayout(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    StoredRoot.replace(s, s"$dir/events") { staging =>
      storedConcEvents(s, dir)
        .repartition($"day").sortWithinPartitions($"day", $"bkt")
        .select($"user_id", $"ts_ms", $"bkt", $"day")
        .write.partitionBy("day").parquet(staging)
    }
    val tp = new org.apache.hadoop.fs.Path(concUserTombstonesPath(dir))
    tp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(tp, true)
  }

  /** Serve a session slice's concurrency from the STORED layout:
    * interior fragments join the count sidecars (never an event row),
    * edge fragments read the clustered events under the slice's
    * pushed (day IN …, bkt IN …) filter — directory + row-group
    * pruned — degrading to the full distributed join above
    * [[ConcPushdownCap]]. Same numbers as evt_concurrency restricted
    * to the slice (the shared [[sessionSpans]] + the same
    * interior/edge algebra; the oracle states exactly that).
    */
  def concurrencyFromStored(s: SparkSession, d: String, dir: String,
      serveMod: Long = ConcServeMod,
      pushdownCap: Int = ConcPushdownCap,
      ownerPred: Column = lit(true)): DataFrame = {
    import s.implicits._
    val B = ConcurrencyBucketMs
    // the session relation feeds FOUR subtrees (the interior legs,
    // the edge fragments, the probed-bucket collect below, and the
    // final owner join), and Spark does not dedupe common subplans —
    // unpersisted, each consumer re-ran the events scan + sessionize
    // window (measured: the serve was 1.7 s of the purged line, r19
    // lifecycle breakdown). The probe collect materializes the plan at
    // build time regardless (this serve is never a fully-lazy
    // declared plan), so pin the slice-sized session relation once
    // (localCheckpoint: serve-slice sessions, orders below the event
    // count) and let every leg read the pinned rows.
    val sess = sessionSpans(s, d,
      col("user_id") % serveMod === 0 && ownerPred)
      .localCheckpoint(true)
    val bounds = sess
      .withColumn("b0", expr(floorDivSql("s_ms", B)))
      .withColumn("b1", expr(floorDivSql("e_ms", B)))
    val cb = s.read.parquet(s"$dir/counts/cb")
    val cbu = s.read.parquet(s"$dir/counts/cbu")
    val interior = bounds
      .select($"user_id", $"session_idx",
        explode(when($"b1" - $"b0" >= 2, sequence($"b0" + 1, $"b1" - 1))
          .otherwise(expr("array()"))).as("bkt"))
      .join(cb, Seq("bkt"), "left")
      .join(cbu, Seq("bkt", "user_id"), "left")
      .groupBy($"user_id", $"session_idx")
      .agg(sum(coalesce($"cb", lit(0L)) - coalesce($"cbu", lit(0L)))
        .as("part"))
    val edgeFrag = bounds
      .select($"user_id", $"session_idx", $"s_ms", $"e_ms",
        explode(array_distinct(array($"b0", $"b1"))).as("bkt"))
    val probeBkts = edgeFrag.select($"bkt").distinct()
      .limit(pushdownCap + 1).collect().map(_.getLong(0))
    val stored = storedConcEvents(s, dir)
    val pruned =
      if (probeBkts.length > pushdownCap) stored
      else if (probeBkts.isEmpty) stored.filter(lit(false))
      else stored.filter(
        col("day").isin(probeBkts.map(b =>
            Integer.valueOf(Math.floorDiv(b, 24L).toInt))
          .distinct.toIndexedSeq: _*) &&
          col("bkt").isin(probeBkts.map(java.lang.Long.valueOf)
            .toIndexedSeq: _*))
    val edge = edgeFrag
      .join(pruned.select($"bkt", $"ts_ms", $"user_id".as("e_user")),
        Seq("bkt"))
      .filter($"ts_ms" >= $"s_ms" && $"ts_ms" <= $"e_ms" &&
        $"e_user" =!= $"user_id")
      .groupBy($"user_id", $"session_idx")
      .agg(count(lit(1)).as("part"))
    val parts = interior.union(edge)
      .groupBy($"user_id", $"session_idx")
      .agg(sum($"part").as("n_concurrent"))
    sess.select($"user_id", $"session_idx")
      .join(parts, Seq("user_id", "session_idx"), "left")
      .select($"user_id", $"session_idx",
        coalesce($"n_concurrent", lit(0L)).as("n_concurrent"))
  }

  /** Trailing attribution window for evt_attrib_window (7 days — the
    * conventional click-attribution lookback; also the bin width for
    * the range-join bucketing, so each click lands in exactly two
    * buckets regardless of the window chosen).
    */
  val AttribWindowMs = 604800000L

  /** Trailing active-user window for evt_dau_mau (the standard
    * 30-day MAU).
    */
  val MauWindowDays = 30L

  /** Timeline chunk width for [[asofTwoPass]] (1 day): a hot user's
    * events split across ⌈span/chunk⌉ tasks instead of one.
    */
  val AsofChunkMs = 86400000L

  /** The 2-pass skew variant of `evt_asof` (r12 verdict stretch item):
    * the declared window form sorts each user's whole timeline in ONE
    * task — correct and AQE-skew-tested to 99% single-user skew
    * (AqeSkewSpec), but a user whose history exceeds a task's memory
    * is a hard wall. This variant is the classic parallel prefix-scan
    * decomposition of the same running-last window:
    *
    * 1. chunk each user's timeline by [[AsofChunkMs]] time range
    *    (same-ts events always co-chunk, so the (ts_ms, event_id)
    *    total order never straddles a boundary);
    * 2. pass A: the running last-click window WITHIN (user, chunk) —
    *    per-task state is one chunk of one user, bounded by activity
    *    rate × chunk width, not history;
    * 3. the carry: per (user, chunk) the last click of all PRECEDING
    *    chunks, a running-last window over the chunk SUMMARY relation
    *    (≤ one row per (user, chunk) — orders of magnitude below the
    *    event count, so its per-user sort is trivially safe);
    * 4. join the carry back on (user, chunk); each purchase takes its
    *    within-chunk running last, else the carried one, else the -1
    *    sentinels.
    *
    * Exactly the declared query's answer by the prefix-scan identity
    * (last-before-row = last-in-prefix-chunks ∪ last-within-chunk);
    * AsofTwoPassSpec pins equality on the real fixture, under forced
    * many-chunk splitting, and on the hot-user skew fixture. Not the
    * declared query: the extra summary exchange + join only pay off
    * past task-sized users, the deployment's call via the chunk knob.
    */
  /** The declared single-window as-of form: per-user running last
    * click via ONE user-keyed exchange. Right up to task-sized users;
    * [[asofAuto]] swaps in [[asofTwoPass]] past that.
    */
  def asofWindowed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"event_id", $"event_type",
        expr("unix_micros(ts) div 1000").as("ts_ms"))
      .withColumn("click_id",
        last(when($"event_type" === "click", $"event_id"),
          ignoreNulls = true).over(w))
      .withColumn("click_ts_ms",
        last(when($"event_type" === "click", $"ts_ms"),
          ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        $"ts_ms".as("p_ts_ms"),
        coalesce($"click_id", lit(-1L)).as("click_id"),
        coalesce($"click_ts_ms", lit(-1L)).as("click_ts_ms"),
        coalesce($"ts_ms" - $"click_ts_ms", lit(-1L)).as("lag_ms"))
  }

  /** Past this many click/purchase rows for ONE user, the windowed
    * form's single-task per-user sort is at risk of spilling/OOM and
    * [[asofAuto]] switches to the 2-pass prefix-scan decomposition.
    * Sized to what one task sorts comfortably (narrow 32-byte rows,
    * a few hundred MB), far above any organic fixture.
    */
  val AsofSkewRowThreshold = 2000000L

  /** The skew probe behind [[asofAuto]]: max per-user row count over
    * the filtered event stream. One job whose shuffle is the partial-
    * aggregated (user, count) relation — users-sized, orders of
    * magnitude below the full-row exchange the window itself pays, so
    * the probe costs roughly a scan, not a second as-of.
    */
  private val skewCache = new SessionCache[Long]()

  private[graft] def maxUserRows(s: SparkSession, d: String): Long =
    // a corpus statistic, so cached per (session, corpus) like the
    // trained indexes: the probe job runs once, not per asofAuto call
    // (the bench showed the uncached probe doubling evt_asof's
    // steady-state line)
    skewCache.getOrBuild(s, s"asof-skew#$d") {
      import s.implicits._
      Tables.events(s, d)
        .filter($"event_type".isin("click", "purchase"))
        .groupBy($"user_id").agg(count(lit(1)).as("n"))
        .agg(max($"n")).as[Option[Long]].first().getOrElse(0L)
    }

  /** Auto-selecting as-of (r13 verdict stretch item 8): probe the
    * per-user row-count skew, run the windowed form below
    * [[AsofSkewRowThreshold]] and [[asofTwoPass]] above it. The two
    * forms are answer-identical (AsofTwoPassSpec pins it on the real
    * fixture, under forced chunking, and on the hot-user skew
    * fixture), so the selection can never change the declared query's
    * rows — PlanQualitySpec forces both branches through a threshold
    * override and compares.
    */
  def asofAuto(s: SparkSession, d: String,
      threshold: Long = AsofSkewRowThreshold): DataFrame =
    if (maxUserRows(s, d) > threshold) asofTwoPass(s, d)
    else asofWindowed(s, d)

  def asofTwoPass(s: SparkSession, d: String,
      chunkMs: Long = AsofChunkMs): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"event_id", $"event_type",
        expr("unix_micros(ts) div 1000").as("ts_ms"))
      .withColumn("chunk", expr(s"ts_ms div ${chunkMs}L"))
    val w = Window.partitionBy($"user_id", $"chunk")
      .orderBy($"ts_ms", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = e
      .withColumn("l_click_id",
        last(when($"event_type" === "click", $"event_id"),
          ignoreNulls = true).over(w))
      .withColumn("l_click_ts",
        last(when($"event_type" === "click", $"ts_ms"),
          ignoreNulls = true).over(w))
    // chunk summaries: the (ts_ms, event_id)-max click per (user,
    // chunk) — max over the lexicographic struct IS the window's total
    // order — carried forward over the user's chunk sequence
    val sums = e.filter($"event_type" === "click")
      .groupBy($"user_id", $"chunk")
      .agg(max(struct($"ts_ms", $"event_id")).as("lastc"))
    val wc = Window.partitionBy($"user_id").orderBy($"chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = e.select($"user_id", $"chunk").distinct()
      .join(sums, Seq("user_id", "chunk"), "left")
      .withColumn("carry", last($"lastc", ignoreNulls = true).over(wc))
      .select($"user_id", $"chunk", $"carry")
    withLocal.filter($"event_type" === "purchase")
      .join(carry, Seq("user_id", "chunk"), "left")
      .select($"user_id", $"event_id".as("purchase_id"),
        $"ts_ms".as("p_ts_ms"),
        coalesce($"l_click_id", $"carry.event_id", lit(-1L)).as("click_id"),
        coalesce($"l_click_ts", $"carry.ts_ms", lit(-1L)).as("click_ts_ms"),
        coalesce($"ts_ms" - coalesce($"l_click_ts", $"carry.ts_ms"),
          lit(-1L)).as("lag_ms"))
  }

  /** Anomaly gate for evt_anomaly (the conventional 3σ rule). */
  val ZScoreThreshold = 3.0

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         ROUND(SUM(l_quantity), 2) AS sum_qty,
         ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         ROUND(AVG(l_discount), 6) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q2_filter_scan" ->
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
         COUNT(*) AS n_rows
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1996-01-01'
           AND l_quantity < 24""",
    "q3_join_agg" ->
      """SELECT n_name, ROUND(SUM(o_totalprice), 2) AS total_price,
         COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q4_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 300000)""",
    "q5_semi_join" ->
      """SELECT COUNT(*) AS n_customers_with_orders FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q6_topk" ->
      """SELECT l_partkey,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem GROUP BY l_partkey
         ORDER BY revenue DESC, l_partkey ASC LIMIT 10""",
    "q7_window_rownum" ->
      """SELECT o_custkey, o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS o_odate
         FROM (SELECT o_custkey, o_orderkey, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
               FROM orders) WHERE rn = 1""",
    "q8_except" ->
      """SELECT p_partkey FROM part
         EXCEPT SELECT l_partkey AS p_partkey FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1995-06-01'""",
    "q9_window_running" ->
      """SELECT event_id, user_id, event_type,
         ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
         FROM events WHERE user_id < 5""",
    "q10_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
         COUNT(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag""",
    "q11_time_bucket" ->
      """SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
         event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q12_scalar_funcs" ->
      """SELECT doc_id, MD5(text) AS text_md5, UPPER(lang) AS lang_up,
         LENGTH(text) AS text_len, PRINTF('doc_%05d', doc_id) AS doc_tag
         FROM documents""",
    "q13_join_chain" ->
      """SELECT r_name, COUNT(*) AS n_orders, ROUND(AVG(o_totalprice), 2) AS avg_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q14_supplier_volume" ->
      """SELECT n_name,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE l_quantity >= 30
         GROUP BY n_name""",
    "q15_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
         COALESCE(l_linestatus, 'ALL') AS linestatus,
         ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n_rows
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "evt_sessions" ->
      s"""WITH e AS (SELECT user_id, event_id,
            epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms
            FROM events),
          b AS (SELECT user_id, event_id, ts_ms,
            CASE WHEN lag(ts_ms) OVER w IS NULL
              OR ts_ms - lag(ts_ms) OVER w > $SessionGapMs
            THEN 1 ELSE 0 END AS brk
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
          sx AS (SELECT user_id, ts_ms,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            FROM b)
          SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
            COUNT(*) AS n_events, MIN(ts_ms) AS start_ms,
            MAX(ts_ms) - MIN(ts_ms) AS dur_ms
          FROM sx GROUP BY user_id, session_idx""",
    // the bucket decomposition restated as the naive point-in-interval
    // join it computes: same sessionization chain, then a BETWEEN
    // predicate with the self-exclusion — DuckDB's IEJoin does at
    // oracle scale what the engine's interior/edge split does at 100 TB
    "evt_concurrency" -> concurrencySql(""),
    // the stored probe answers the SAME question for the serve slice —
    // one shared restatement, sliced
    "evt_concurrency_stored" ->
      concurrencySql(s"WHERE s.user_id % $ConcServeMod = 0"),
    // the takedown restated on the naive join: deleted users excluded
    // from the COUNTED side (their events answer for nobody) and from
    // the served session owners
    "evt_concurrency_purged" ->
      concurrencySql(
        s"""WHERE s.user_id % $ConcServeMod = 0
            AND NOT (s.user_id % ${Similarity.PurgeMod} = ${Similarity.PurgeRes})""",
        s"AND NOT (e2.user_id % ${Similarity.PurgeMod} = ${Similarity.PurgeRes})"),
    // the same lag chain; counts are exact integers, the ratio rounds
    "evt_markov_transitions" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
            epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms
            FROM events),
          pr AS (SELECT event_type AS cur,
            lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts_ms, event_id) AS prev
            FROM e),
          cnt AS (SELECT prev, cur, COUNT(*) AS n FROM pr
            WHERE prev IS NOT NULL GROUP BY prev, cur),
          tot AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS n_prev
            FROM cnt GROUP BY prev)
          SELECT c.prev, c.cur, c.n,
            ROUND(c.n::DOUBLE / t.n_prev, 6) AS p
          FROM cnt c JOIN tot t USING (prev)""",
    "q17_corr_subquery" ->
      """WITH pc AS (SELECT p_brand,
           CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
           FROM part)
         SELECT p.p_brand, COUNT(*) AS n_pricey, MAX(p.cents) AS max_cents
         FROM pc p
         WHERE p.cents > (SELECT 1.05 * AVG(p2.cents)
                          FROM pc p2 WHERE p2.p_brand = p.p_brand)
         GROUP BY p.p_brand""",
    "evt_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
           epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) // 86400000 AS day
           FROM events),
         f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id)
         SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
           COUNT(*) AS n_users
         FROM e JOIN f USING (user_id)
         GROUP BY f.cohort_day, day_offset""",
    "evt_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
           epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms
           FROM events),
         v AS (SELECT user_id, MIN(ts_ms) AS v_ts FROM e
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, MIN(ts_ms) AS c_ts FROM e JOIN v USING (user_id)
           WHERE event_type = 'click' AND ts_ms > v_ts GROUP BY e.user_id),
         p AS (SELECT e.user_id, MIN(ts_ms) AS p_ts FROM e JOIN c USING (user_id)
           WHERE event_type = 'purchase' AND ts_ms > c_ts GROUP BY e.user_id)
         SELECT stage, COUNT(*) AS n_users FROM (
           SELECT 1 AS stage, user_id FROM v
           UNION ALL SELECT 2, user_id FROM c
           UNION ALL SELECT 3, user_id FROM p)
         GROUP BY stage""",
    // user-day distinct → per-day count (DAU) and bounded 30-day
    // contribution explode → distinct → per-day count (MAU); the
    // stickiness quotient is the same BIGINT/BIGINT IEEE division the
    // Spark plan computes — bit-equal, deliberately unrounded.
    "evt_dau_mau" ->
      s"""WITH ud AS (SELECT DISTINCT user_id,
            epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) // 86400000 AS day
            FROM events),
          dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
          contrib AS (SELECT DISTINCT user_id, ud.day + g.o AS day
            FROM ud, generate_series(0, ${MauWindowDays - 1}) AS g(o)),
          mau AS (SELECT day, COUNT(*) AS mau FROM contrib GROUP BY day)
          SELECT dau.day, dau.dau, mau.mau,
            dau.dau::DOUBLE / mau.mau::DOUBLE AS stickiness
          FROM dau JOIN mau USING (day)""",
    // moments from exact integer sums → bit-identical μ/σ/z on both
    // engines (no rounding); σ=0 → z=0, variance GREATEST-clamped
    "evt_anomaly" ->
      s"""WITH daily AS (SELECT event_type,
            epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) // 86400000 AS day,
            COUNT(*) AS cnt
            FROM events GROUP BY event_type, day),
          st AS (SELECT event_type, COUNT(*) AS n, SUM(cnt) AS sc,
            SUM(cnt * cnt) AS sc2 FROM daily GROUP BY event_type),
          z AS (SELECT d.event_type, d.day, d.cnt,
            CASE WHEN SQRT(GREATEST(sc2::DOUBLE / n::DOUBLE
                - (sc::DOUBLE / n::DOUBLE) * (sc::DOUBLE / n::DOUBLE), 0.0)) = 0.0
              THEN 0.0
              ELSE (d.cnt::DOUBLE - sc::DOUBLE / n::DOUBLE)
                / SQRT(GREATEST(sc2::DOUBLE / n::DOUBLE
                - (sc::DOUBLE / n::DOUBLE) * (sc::DOUBLE / n::DOUBLE), 0.0)) END AS z
            FROM daily d JOIN st USING (event_type))
          SELECT event_type, day, cnt, z,
            CASE WHEN ABS(z) > $ZScoreThreshold::DOUBLE THEN 1 ELSE 0 END::BIGINT
              AS is_anomaly
          FROM z""",
    "pipe_data_audit" ->
      s"""WITH m AS (
            SELECT 'pk_dup_orders' AS chk,
              COUNT(*) - COUNT(DISTINCT o_orderkey) AS metric FROM orders
            UNION ALL SELECT 'pk_dup_customer',
              COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer
            UNION ALL SELECT 'fk_orphan_orders', COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                WHERE c.c_custkey = o.o_custkey)
            UNION ALL SELECT 'fk_orphan_lineitem', COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                WHERE o.o_orderkey = l.l_orderkey)
            UNION ALL SELECT 'fk_null_orders', COUNT(*) FROM orders
              WHERE o_custkey IS NULL
            UNION ALL SELECT 'fk_null_lineitem', COUNT(*) FROM lineitem
              WHERE l_orderkey IS NULL
            UNION ALL SELECT 'range_bad_quantity', COUNT(*) FROM lineitem
              WHERE l_quantity <= 0
            UNION ALL SELECT 'events_bad_value', COUNT(*) FROM events
              WHERE value IS NULL OR isnan(value)
            UNION ALL SELECT 'docs_empty_text', COUNT(*) FROM documents
              WHERE text IS NULL OR LENGTH(text) = 0
            UNION ALL SELECT 'docs_dup_text',
              COUNT(*) - COUNT(DISTINCT md5(COALESCE(text, '')))
              FROM documents)
          SELECT chk, CAST(metric AS BIGINT) AS metric,
            CAST(CASE WHEN metric = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
          FROM m""",
    // the rank restated directly: ROW_NUMBER over value per type,
    // k = ⌈q·n⌉ through the same IEEE double multiply (any tie order
    // yields the same VALUE at rank k, so the oracle is deterministic
    // on the output column even though rn itself is not)
    "evt_value_quantiles" -> quantileOracleSql,
    // the stored probe starts one level into the same bisection from
    // the same partition of the same multiset — identical answers,
    // oracle shared verbatim
    "evt_value_quantiles_stored" -> quantileOracleSql,
    // the same shrinking staged shape with the per-stage deadline
    // ANDed on; CAST around the lag sum keeps HUGEINT out of the
    // compared schema
    "evt_funnel_windowed" ->
      s"""WITH e AS (SELECT user_id, event_type,
            epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms
            FROM events),
          v AS (SELECT user_id, MIN(ts_ms) AS v_ts FROM e
            WHERE event_type = 'view' GROUP BY user_id),
          c AS (SELECT e.user_id, MIN(ts_ms) AS c_ts,
            MIN(ts_ms - v_ts) AS c_lag
            FROM e JOIN v USING (user_id)
            WHERE event_type = 'click' AND ts_ms > v_ts
              AND ts_ms <= v_ts + $AttribWindowMs
            GROUP BY e.user_id),
          p AS (SELECT e.user_id, MIN(ts_ms - c_ts) AS p_lag
            FROM e JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND ts_ms > c_ts
              AND ts_ms <= c_ts + $AttribWindowMs
            GROUP BY e.user_id)
          SELECT stage, COUNT(*) AS n_users,
            CAST(SUM(lag) AS BIGINT) AS sum_lag_ms FROM (
            SELECT 1 AS stage, user_id, 0 AS lag FROM v
            UNION ALL SELECT 2, user_id, c_lag FROM c
            UNION ALL SELECT 3, user_id, p_lag FROM p)
          GROUP BY stage""",
    // the as-of lookup as a running last-non-null over the same
    // (ts_ms, event_id) total order the Spark window uses; -1
    // sentinels keep every column non-null BIGINT on both engines
    "evt_asof" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
           epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms
           FROM events WHERE event_type IN ('click', 'purchase')),
         m AS (SELECT user_id, event_id, event_type, ts_ms,
           LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
             IGNORE NULLS) OVER w AS click_id,
           LAST_VALUE(CASE WHEN event_type = 'click' THEN ts_ms END
             IGNORE NULLS) OVER w AS click_ts_ms
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id AS purchase_id, ts_ms AS p_ts_ms,
           COALESCE(click_id, -1) AS click_id,
           COALESCE(click_ts_ms, -1) AS click_ts_ms,
           COALESCE(ts_ms - click_ts_ms, -1) AS lag_ms
         FROM m WHERE event_type = 'purchase'""",
    // the range join stated directly as a theta join — DuckDB can
    // afford the per-user cross product the Spark plan's binning
    // avoids; CAST around the sum keeps DuckDB's HUGEINT out of the
    // compared schema
    "evt_attrib_window" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
            epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms,
            CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events),
          p AS (SELECT user_id, event_id, ts_ms FROM e
            WHERE event_type = 'purchase'),
          c AS (SELECT user_id, ts_ms AS c_ts, cents FROM e
            WHERE event_type = 'click')
          SELECT p.user_id, p.event_id AS purchase_id, p.ts_ms AS p_ts_ms,
            COUNT(c.c_ts) AS n_clicks,
            CAST(COALESCE(SUM(c.cents), 0) AS BIGINT) AS click_cents
          FROM p LEFT JOIN c ON p.user_id = c.user_id
            AND c.c_ts >= p.ts_ms - $AttribWindowMs AND c.c_ts < p.ts_ms
          GROUP BY p.user_id, p.event_id, p.ts_ms""",
    "q16_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
         ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k
         FROM events GROUP BY event_type""",
    // The evt_sessions CTE chain with event_type carried through, plus
    // an ORDER BY string_agg per session (equivalent to the struct-sort
    // on the Spark side — (ts_ms, event_id) is already total).
    "evt_topk_paths" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
            epoch_ms(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS ts_ms
            FROM events),
          b AS (SELECT user_id, event_id, event_type, ts_ms,
            CASE WHEN lag(ts_ms) OVER w IS NULL
              OR ts_ms - lag(ts_ms) OVER w > $SessionGapMs
            THEN 1 ELSE 0 END AS brk
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
          sx AS (SELECT user_id, event_id, event_type, ts_ms,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            FROM b),
          p AS (SELECT user_id, session_idx,
            string_agg(event_type, '>' ORDER BY ts_ms, event_id) AS path
            FROM sx GROUP BY user_id, session_idx)
          SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
          ORDER BY n_sessions DESC, path ASC LIMIT $PathTopK""")
}
