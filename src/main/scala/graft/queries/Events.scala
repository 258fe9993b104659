package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables._

/** Batch twins of the streaming operators (SURVEY.md §2.5 → EVT-1/EVT-2).
  *
  * These run the same window/sessionization semantics as the Structured
  * Streaming versions in [[graft.streaming]], but over the bounded events
  * table so the DuckDB oracle can check them. The streaming suite asserts
  * stream-vs-batch equivalence against these exact frames.
  */
object Events extends QueryModule {

  val all: Map[String, Q] = Map(
    // ---- EVT-1: tumbling 10-minute window × event_type ----
    "evt1" -> ((s, d) => {
      val e = load(s, d, "events")
      ordered(e
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsumS(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
          col("event_type"), col("n_events"), col("sum_value")))
    }),

    // ---- EVT-3: sliding 10-minute window every 5 × event_type (batch twin
    //      of STR-W2; each event lands in exactly two windows) ----
    "evt3" -> ((s, d) => {
      val e = load(s, d, "events")
      ordered(e
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsumS(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
          col("event_type"), col("n_events"), col("sum_value")))
    }),

    // ---- EVT-4: click→purchase attribution (batch twin of STR-JOIN):
    //      interval-bounded self-join on user, purchase within 10 minutes
    //      after the click ----
    "evt4" -> ((s, d) => {
      val e = load(s, d, "events")
      ordered(graft.streaming.StreamOps.clickPurchaseJoin(e, e))
    }),

    // ---- EVT-5: native session_window in BATCH (the exact operator the
    //      streaming STR-W3 path uses) certified against a declarative
    //      lag-gap oracle. Spark's session windows are half-open: a new
    //      session starts when the gap to the previous event is >= 30
    //      minutes (an event landing exactly at previous_end opens a new
    //      window), and session_end = last event ts + gap — the oracle
    //      spells both rules with microsecond-exact arithmetic. ----
    "evt5" -> ((s, d) => {
      val e = load(s, d, "events")
      ordered(e
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsumS(col("value")).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("sum_value")))
    }),

    // ---- EVT-2: lag-gap sessionization (30-minute gap) + per-session agg ----
    "evt2" -> ((s, d) => {
      val e = load(s, d, "events")
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val newSession = when(
        col("ts").cast("long") - lag(col("ts"), 1).over(byUser).cast("long") > 1800, 1)
        .otherwise(when(lag(col("ts"), 1).over(byUser).isNull, 1).otherwise(0))
      val sessions = e
        .withColumn("is_new", newSession)
        .withColumn("session_id",
          sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      ordered(sessions
        .groupBy(col("user_id"), col("session_id").cast("int").as("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          dsumS(col("value")).as("sum_value")))
    }),

    // ---- FNL-1: ordered conversion funnel (view → click → purchase) —
    //      the sequential-pattern query behind every product-analytics
    //      pipeline (MATCH_RECOGNIZE's common case). A click counts only
    //      at-or-after the user's first view; a purchase only at-or-after
    //      that qualifying click. Computed with running conditional mins
    //      over ONE per-user (ts, event_id) sort — the second window
    //      reuses the first's sort order, so the whole funnel costs a
    //      single shuffle+sort by user_id plus a groupBy, regardless of
    //      funnel depth (each extra stage is one more window column, not
    //      another join — the 100 TB shape; the join formulation would
    //      re-shuffle per stage). Running-min-in-frame ≤ current ts holds
    //      by construction (frame rows precede by (ts, event_id)), so
    //      non-null running state IS the qualification test. ----
    "funnel" -> ((s, d) => {
      val e = load(s, d, "events")
      val byU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val fv = min(when(col("event_type") === "view", col("ts"))).over(byU)
      val e2 = e.withColumn("fv", fv)
      val qc = min(when(col("event_type") === "click" && col("fv").isNotNull,
        col("ts"))).over(byU)
      val e3 = e2.withColumn("qc", qc)
      val funnel = e3.groupBy(col("user_id")).agg(
        min(when(col("event_type") === "view", col("ts"))).as("first_view"),
        min(when(col("event_type") === "click" && col("fv").isNotNull, col("ts")))
          .as("first_click"),
        min(when(col("event_type") === "purchase" && col("qc").isNotNull, col("ts")))
          .as("first_purchase"))
      ordered(funnel.withColumn("stage",
        (col("first_view").isNotNull.cast("int") +
          col("first_click").isNotNull.cast("int") +
          col("first_purchase").isNotNull.cast("int"))))
    }),

    // ---- WIN-9: rolling exact percentile (`rolling_p95`) — the SLO
    //      trendline primitive (rolling p95 latency/value over the last
    //      20 observations per user): mean-based rolling stats hide tail
    //      regressions, and the tail IS the SLO. Exact type-7
    //      interpolated percentile over a ROWS frame — Spark's
    //      `percentile` windowed and DuckDB's `quantile_cont` compute the
    //      identical double (the AGG-7 cross-engine precedent), dec4-
    //      rendered. Cost shape stated honestly: a windowed exact
    //      percentile re-sorts its frame per row (O(F log F) per row,
    //      F=20 — bounded and cheap HERE; the per-row cost is frame-
    //      bounded, not data-bounded, so it scales with rows like any
    //      projection); at large F the declared switch is a sliding
    //      t-digest/approx_percentile state (AGG-11's trade, maintained
    //      incrementally). One per-user window sort, no joins. ----
    "rolling_p95" -> ((s, d) => {
      val e = load(s, d, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-19, 0)
      ordered(e.select(col("event_id"), col("user_id"), col("ts"),
        dec4S(percentile(col("value"), lit(0.95)).over(w)).as("p95")))
    }),

    // ---- IVL-2: interval coalescing (`ivl_merge`) — the gaps-and-islands
    //      UNION of IVL-1's sessions: merge every user's lag-gap sessions
    //      into the maximal globally-covered activity islands (an island
    //      ends only when the next session starts strictly AFTER
    //      everything seen so far has ended — touching intervals fuse),
    //      reporting per island its bounds, session count, and exact µs
    //      coverage: the uptime/coverage/concurrency-envelope timeline
    //      behind capacity planning and SLA attribution. Classic algebra
    //      (running max of interval ends over the start-ordered sequence
    //      marks island breaks, a running sum of breaks assigns island
    //      ids — all-integer µs), executed DISTRIBUTED: the merge runs on
    //      the SESSION relation (events compressed per-user first), which
    //      grows with users×activity, so the global window goes through
    //      [[graft.operators.IslandMerge]] — range-partition on the sort
    //      key (the sampled-boundary form of coarse time-bucketing),
    //      intra-partition islands under a per-partition window, and the
    //      bucket-boundary carry/offset lists (∝ partition COUNT, a
    //      config) merged driver-side — no session ever moves through a
    //      single-task exchange, and the island ids (hence the oracle
    //      hash) are identical to the single-window form's. ----
    "ivl_merge" -> ((s, d) => {
      val sess = lagGapSessions(s, d)
      val s2 = graft.operators.IslandMerge.attach(sess, "stu", "enu",
        Seq(col("stu").asc, col("enu").asc, col("user_id").asc, col("sid").asc),
        "island")
      ordered(s2.groupBy(col("island")).agg(
        timestamp_micros(min(col("stu"))).as("island_start"),
        timestamp_micros(max(col("enu"))).as("island_end"),
        count(lit(1)).as("n_sessions"),
        (max(col("enu")) - min(col("stu"))).as("covered_us")))
    }),

    // ---- IVL-2/3/4 shared session relation: see [[lagGapSessions]]. ----

    // ---- IVL-4: downtime gaps (`ivl_gaps`) — the COMPLEMENT of IVL-2's
    //      islands: the quiet intervals between consecutive activity
    //      islands (gap start = island end, gap end = next island start,
    //      exact µs width) — the SLA-downtime / quiet-window report
    //      capacity planning reads next to the coverage timeline. Islands
    //      are globally time-ordered by construction (ids assigned in
    //      start order, and a new island opens only STRICTLY after
    //      everything before it ended), so consecutive pairing is a pure
    //      EQUI-join on island = island+1 — no window, no sort, fully
    //      distributed at any island count; gaps are positive by the
    //      island-break invariant. ----
    "ivl_gaps" -> ((s, d) => {
      val sess = lagGapSessions(s, d)
      val s2 = graft.operators.IslandMerge.attach(sess, "stu", "enu",
        Seq(col("stu").asc, col("enu").asc, col("user_id").asc, col("sid").asc),
        "island")
      val islands = s2.groupBy(col("island")).agg(
        min(col("stu")).as("ist"), max(col("enu")).as("ien")).pinned
      val nxt = islands.select((col("island") - 1L).as("island"),
        col("ist").as("nst"))
      ordered(islands.join(nxt, Seq("island"))
        .select(col("island").as("gap_after_island"),
          timestamp_micros(col("ien")).as("gap_start"),
          timestamp_micros(col("nst")).as("gap_end"),
          (col("nst") - col("ien")).as("gap_us")))
    }),

    // ---- IVL-5: daily uptime / availability (`ivl_uptime`) — the SLA
    //      NUMBER the whole IVL family feeds: per calendar day, the µs of
    //      the day covered by any activity island and the availability
    //      ratio — what an ops review reads ("99.2% covered Tuesday"),
    //      derived exactly from the islands by clipping each island to
    //      the day grid (ivl1's bucket-explode pattern at day grain:
    //      fan-out ∝ island-days, integral µs division for the grid).
    //      Islands are DISJOINT by maximality, so per-day coverage is a
    //      plain sum — no overlap correction; day-boundary clipping is
    //      min/max arithmetic on integral µs, measure-consistent with
    //      IVL-2's covered_us (= end − start). ----
    "ivl_uptime" -> ((s, d) => {
      val DUS = 86400L * 1000000L
      val sess = lagGapSessions(s, d)
      val s2 = graft.operators.IslandMerge.attach(sess, "stu", "enu",
        Seq(col("stu").asc, col("enu").asc, col("user_id").asc, col("sid").asc),
        "island")
      val islands = s2.groupBy(col("island")).agg(
        min(col("stu")).as("ist"), max(col("enu")).as("ien"))
      // FLOOR division to the day grid, matching the DuckDB oracle's `//`:
      // Spark's `div` truncates toward zero, which disagrees with floor for
      // negative (pre-1970) µs. Subtracting the always-non-negative pmod
      // first makes the numerator an exact multiple of DUS, so truncating
      // div == floor div for any sign — exact long arithmetic, no doubles.
      def day(c: Column): Column =
        call_function("div", c - pmod(c, lit(DUS)), lit(DUS))
      val spans = islands.select(col("island"), col("ist"), col("ien"),
        explode(sequence(day(col("ist")), day(col("ien")))).as("dayi"))
        .withColumn("ds", col("dayi") * DUS)
        .withColumn("de", (col("dayi") + 1L) * DUS)
        .withColumn("cov",
          least(col("ien"), col("de")) - greatest(col("ist"), col("ds")))
      ordered(spans.groupBy(col("dayi")).agg(
          count(lit(1)).as("n_islands"), sum(col("cov")).as("covered_us"))
        .select(timestamp_micros(col("dayi") * DUS).cast("date").as("day"),
          col("n_islands"), col("covered_us"),
          dec4S(col("covered_us").cast("double") / lit(DUS.toDouble))
            .as("uptime_ratio")))
    }),

    // ---- IVL-3: concurrency envelope peak (`ivl_concurrency`) — the
    //      companion statistic to IVL-2's islands: the MAXIMUM number of
    //      simultaneously-open sessions and the first instant it is
    //      reached — the capacity-planning headline (how many concurrent
    //      users must the fleet hold?). Classic sweep-line, distributed:
    //      sessions become ±1 deltas at [stu, enu+1µs) (closed intervals
    //      — touching sessions count concurrent at the shared instant),
    //      deltas collapse per distinct timestamp in one map-side-combined
    //      aggregate, and the running sum over time order — concurrency
    //      itself — runs through GlobalRank's two-pass distributed prefix
    //      (fifth consumer, after gini/mann_whitney/drift_ks/auc_roc): no
    //      single-task exchange at any width. Peak ties → smallest
    //      timestamp (drift_ks's argmax rule; integer concurrency, so the
    //      tie set is engine-identical). Output: one row (peak, first
    //      instant, session count). ----
    "ivl_concurrency" -> ((s, d) => {
      val sess = lagGapSessions(s, d)
      val deltas = sess.select(col("stu").as("t"), lit(1L).as("delta"))
        .unionByName(sess.select((col("enu") + 1L).as("t"), lit(-1L).as("delta")))
        .groupBy(col("t")).agg(sum(col("delta")).as("dsum"))
      val ranked = graft.operators.GlobalRank.attach(deltas,
        Seq(col("t").asc), None, Seq("dsum" -> "pre"))
      val conc = ranked.withColumn("conc", col("pre") + col("dsum"))
      val peak = conc.agg(max(col("conc")).as("peak"))
      val nSess = sess.agg(count(lit(1)).as("n_sessions"))
      ordered(conc.crossJoin(broadcast(peak))
        .filter(col("conc") === col("peak"))
        .groupBy(col("peak")).agg(min(col("t")).as("att"))
        .crossJoin(broadcast(nSess))
        .select(col("peak").as("peak_concurrency"),
          timestamp_micros(col("att")).as("at_ts"), col("n_sessions")))
    }),

    // ---- BOT-1: burst-rate audit (`rate_audit`) — the abuse/bot gate an
    //      event platform runs before events enter training data: each
    //      user's PEAK activity inside any trailing 24 h window (the
    //      sliding-burst statistic rate limiters and scraper detectors
    //      threshold on), via a RANGE frame on the µs epoch — the frame
    //      is anchored to TIME, not row counts, so a burst of 50 events
    //      in a minute and 50 spread over a week are finally
    //      distinguishable (ROWS frames can't see the difference).
    //      Output per user: total events, peak burst, and the ≥8 flag
    //      (32/150 users fire here). Shape: one per-user window sort,
    //      per-row frame maintained incrementally by Spark's sliding
    //      range-frame processor (amortized O(1) per row, state bounded
    //      by the 24 h activity burst, not history) + a user-keyed
    //      rollup — no self-join, no bucketing approximation, exact at
    //      any window width or corpus size. ----
    "rate_audit" -> ((s, d) => {
      val e = load(s, d, "events").withColumn("t", unix_micros(col("ts")))
      val wr = Window.partitionBy(col("user_id")).orderBy(col("t"))
        .rangeBetween(-86400L * 1000000L, 0L)
      val c = e.withColumn("burst", count(lit(1)).over(wr))
      ordered(c.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        max(col("burst")).as("peak_burst"))
        .withColumn("burst_flag", col("peak_burst") >= 8L))
    }),

    // ---- FNL-2: time-bounded funnel (`funnel_window`) — ClickHouse's
    //      windowFunnel semantics layered on FNL-1: the level a user
    //      reaches through view→click→purchase where the WHOLE chain
    //      must fit in a W=6h budget (tp − tv ≤ W, steps time-ordered) —
    //      "converted eventually" (FNL-1) vs "converted while the intent
    //      was hot" (this), the number growth teams actually quote. The
    //      exists-a-chain search is NOT a per-user pair join (quadratic
    //      in events/user): CHAINED RUNNING MAXES solve it in one sort —
    //      mview_t = latest view ≤ t; chain2_t = max over clicks ≤ t of
    //      their mview; a purchase converts iff tp − chain2 ≤ W. Taking
    //      the LATEST qualifying anchor is what makes the single pass
    //      exact: if ANY window-fitting chain exists, the maximal anchor
    //      fits too (tv* ≥ tv ⇒ tp − tv* ≤ W), and prefix-consistency
    //      (l3 ⇒ l2 ⇒ l1: the achieving click's own view gap is bounded
    //      by the purchase's) makes l1+l2+l3 a true funnel level —
    //      32/107/11 users at levels 1/2/3 here. All-integer µs
    //      arithmetic; one per-user window sort, zero joins, state O(1)
    //      per row — the same shape at any W or corpus size. ----
    "funnel_window" -> ((s, d) => {
      val W = 21600L * 1000000L
      val e = load(s, d, "events").withColumn("t", unix_micros(col("ts")))
      val byU = Window.partitionBy(col("user_id"))
        .orderBy(col("t").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val s1 = e.withColumn("mview",
        max(when(col("event_type") === "view", col("t"))).over(byU))
      val s2 = s1.withColumn("chain2",
        max(when(col("event_type") === "click", col("mview"))).over(byU))
      ordered(s2.groupBy(col("user_id")).agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("l1"),
        max(when(col("event_type") === "click" && col("mview").isNotNull &&
          col("t") - col("mview") <= W, 1).otherwise(0)).as("l2"),
        max(when(col("event_type") === "purchase" && col("chain2").isNotNull &&
          col("t") - col("chain2") <= W, 1).otherwise(0)).as("l3"))
        .withColumn("level", col("l1") + col("l2") + col("l3")))
    }),

    // ---- FNL-3: conversion-latency distribution (`funnel_latency`) —
    //      the funnel family's third reading: FNL-1 says WHO converted,
    //      FNL-2 says within a window, this says HOW LONG conversion
    //      takes — per user the µs-exact delay from first click to the
    //      first purchase at-or-after it, summarized as exact p25/p50/p90
    //      seconds grouped by the click's ISO weekday (the launch-day
    //      effect marketing actually asks about). Latency is computed on
    //      µs longs end-to-end; the division to seconds is one identical
    //      long→double op in both engines BEFORE the type-7 interpolation
    //      (AGG-9's exact-percentile determinism argument). Shape: one
    //      map-side-combined first-click aggregate, one equi-join back on
    //      user_id (purchases only on the probe side), one percentile
    //      aggregate over the |converted users| relation — at 100 TB the
    //      per-group exact percentile swaps to approx_percentile (AGG-11's
    //      declared trade), everything else is scan + one keyed shuffle.
    //      Spark weekday()+1 ≡ DuckDB isodow (Mon=1..Sun=7), aligned
    //      explicitly — neither engine's default dayofweek numbering
    //      agrees with the other. ----
    "funnel_latency" -> ((s, d) => {
      val e = load(s, d, "events")
      val fc = e.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("fc_us"))
      val lat = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
        .join(fc, Seq("user_id"))
        .filter(col("p_us") >= col("fc_us"))
        .groupBy(col("user_id"), col("fc_us")).agg(min(col("p_us")).as("fp_us"))
        .select((weekday(timestamp_micros(col("fc_us"))) + lit(1)).as("dow"),
          ((col("fp_us") - col("fc_us")) / lit(1000000.0)).as("lat_s"))
      ordered(lat.groupBy(col("dow")).agg(
        count(lit(1)).as("n"),
        dec4S(percentile(col("lat_s"), lit(0.25))).as("p25_s"),
        dec4S(percentile(col("lat_s"), lit(0.5))).as("p50_s"),
        dec4S(percentile(col("lat_s"), lit(0.9))).as("p90_s")))
    }),

    // ---- RSM-1: time-series resampling to a regular grid with linear
    //      interpolation — the regularization step before any ML
    //      featurization of irregular event streams. Formulation is the
    //      one-shuffle resample: union the hourly grid points (spine
    //      bounded per user by min/max event time) with the events, hash
    //      once on user_id, then a forward running last-known (prev) over
    //      the (ts, tag, event_id) sort and a backward running first-known
    //      (next) as a running window over the REVERSED sort — two
    //      in-partition sorts, one exchange, every frame O(1)/row — NOT a
    //      per-grid-point as-of join, which would re-shuffle per boundary. Interpolation arithmetic
    //      is µs-epoch longs → one double ratio, spelled identically in
    //      the oracle so the doubles are bit-equal. Events tagged 0 sort
    //      before a same-instant grid point (tag 1), so a grid point
    //      landing exactly on an event takes that event's value
    //      (ratio 0 against the at-or-before prev). ----
    "resample" -> ((s, d) => {
      val e = load(s, d, "events")
      val ev = e.select(col("user_id"), col("ts"), col("event_id"), col("value"),
        lit(0).as("tag"))
      val bounds = e.groupBy(col("user_id"))
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      val grid = bounds
        // A user whose whole history fits inside one hour has no interior
        // grid point; sequence() with start > stop would throw.
        .filter(date_trunc("hour", col("t0")) + expr("INTERVAL 1 HOUR") <= col("t1"))
        .select(col("user_id"),
          explode(sequence(date_trunc("hour", col("t0")) + expr("INTERVAL 1 HOUR"),
            col("t1"), expr("INTERVAL 1 HOUR"))).as("ts"))
        .select(col("user_id"), col("ts"), lit(null).cast("long").as("event_id"),
          lit(null).cast("double").as("value"), lit(1).as("tag"))
      val byU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc_nulls_first)
      val fwd = byU.rowsBetween(Window.unboundedPreceding, 0)
      // The backward fill ("first known value at-or-after this row") is NOT
      // an unboundedFollowing frame: Spark's UnboundedFollowingWindowFrame
      // re-evaluates the aggregate from scratch per row — O(n²) in rows per
      // user, quadratic for a 100 TB power user with 10k events. The same
      // semantics as a RUNNING (unboundedPreceding → current, O(1)/row)
      // `last` over the REVERSED sort: same partition keys, so Catalyst
      // adds one in-partition sort (O(n log n)) and no exchange. Tie order
      // reversed exactly (tag desc: a grid point at an event's instant still
      // excludes that event from its "next" — it takes it as prev, ratio 0).
      val bwdAsRun = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("tag").desc, col("event_id").desc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, 0)
      // One select so Catalyst groups the window columns into TWO Window
      // operators (one per sort order) — chained withColumn produced four
      // sequential Window passes.
      val all = ev.unionAll(grid).select(col("*"),
        last(when(col("tag") === 0, col("value")), ignoreNulls = true).over(fwd).as("pv"),
        last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(fwd).as("pt"),
        last(when(col("tag") === 0, col("value")), ignoreNulls = true).over(bwdAsRun).as("nv"),
        last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(bwdAsRun).as("nt"))
      val gUs = unix_micros(col("ts")); val pUs = unix_micros(col("pt"))
      val nUs = unix_micros(col("nt"))
      val ratio = (gUs - pUs).cast("double") / (nUs - pUs).cast("double")
      val interp = when(col("nt").isNull || nUs === pUs, col("pv"))
        .otherwise(col("pv") + (col("nv") - col("pv")) * ratio)
      ordered(all.filter(col("tag") === 1)
        .select(col("user_id"), col("ts").as("grid_ts"),
          dec4S(interp).as("value_interp")))
    }),

    // ---- WAU-1: trailing-7-day active users per day — the rolling
    //      DISTINCT count (DAU/WAU/MAU) that resists naive windowing:
    //      count(distinct) cannot run in a sliding frame. Scalable
    //      formulation: dedup (user, day) activity, then each activity
    //      row CONTRIBUTES to the 7 day-buckets it is visible in
    //      (explode of a 7-day sequence — bounded fan-out ∝ window/step),
    //      then one distinct-count per bucket day. Only days present in
    //      the data appear (no spine join — the gap-fill op is GAP-1's
    //      job). At 100 TB: fan-out ×7 on the DEDUP'd activity relation
    //      (~users × active-days), not on raw events. ----
    "wau" -> ((s, d) => {
      val e = load(s, d, "events")
      val act = e.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val contrib = act.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("bucket_day"))
      val days = act.select(col("day")).distinct()
      ordered(contrib.join(days, col("bucket_day") === col("day"))
        .groupBy(col("bucket_day"))
        .agg(countDistinct(col("user_id")).as("wau")))
    }),

    // ---- SCD-2: type-2 dimension history from a changelog — each user's
    //      event_type stream compressed to state-CHANGE rows with
    //      [valid_from, valid_to) intervals and a current flag: the
    //      slowly-changing-dimension build every warehouse load runs.
    //      lag() finds the change points, lead() closes each interval at
    //      the next change — two window functions sharing ONE per-user
    //      (ts, event_id) sort, then a filter; no joins, one shuffle.
    //      valid_to is NULL on the open (current) interval. ----
    "scd2" -> ((s, d) => {
      val e = load(s, d, "events")
      val byU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val changed = lag(col("event_type"), 1).over(byU).isNull ||
        lag(col("event_type"), 1).over(byU) =!= col("event_type")
      val changes = e.withColumn("chg", changed).filter(col("chg"))
      val byU2 = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      ordered(changes
        .withColumn("valid_to", lead(col("ts"), 1).over(byU2))
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current")))
    }),

    // ---- SCD-3: point-in-time enrichment (`scd2_pit`) — the read side
    //      of SCD-2's history: each purchase joined to the dimension
    //      state VALID AT ITS INSTANT (valid_from ≤ ts < valid_to) — the
    //      point-in-time-correctness join every feature pipeline needs to
    //      avoid training-serving leakage (today's dimension row must not
    //      describe last year's fact). Executed as join11's SINGLE-SORT
    //      as-of trick, not an interval join: state changes and purchases
    //      union into one per-user ordered stream (states sort before
    //      same-µs purchases — exactly the interval semantics, where the
    //      LAST same-µs change owns the interval), a running
    //      last-non-null carries the state, purchases filter out enriched
    //      — one per-user window sort, NO range-join fan-out, no interval
    //      table materialized at all. The oracle is the honest interval
    //      join over the SCD-2 relation, so the hash certifies the
    //      single-sort rewrite against the declarative semantics. ----
    "scd2_pit" -> ((s, d) => {
      val e = load(s, d, "events")
      val byU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val changed = lag(col("event_type"), 1).over(byU).isNull ||
        lag(col("event_type"), 1).over(byU) =!= col("event_type")
      val states = e.withColumn("chg", changed).filter(col("chg"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("state"), lit(0).as("tag"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("string").as("state"), lit(1).as("tag"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val tagged = states.unionByName(purch)
        .withColumn("cur", last(col("state"), ignoreNulls = true).over(w))
        .withColumn("since",
          last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(w))
      ordered(tagged.filter(col("tag") === 1)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("cur").as("state_at"), col("since").as("state_since")))
    }),

    // ---- PTH-1: per-user journey export — the ordered event-type
    //      sequence (first 10 events) as a single path string, the input
    //      to path/Markov analysis and session-replay tooling. Ordering
    //      inside a grouped collect is NOT guaranteed after a shuffle, so
    //      the sequence is made deterministic structurally: collect
    //      (ts, event_id, event_type) structs, array_sort (struct order =
    //      lexicographic = the declared (ts, event_id) order), then
    //      project the types. One shuffle by user; per-group state is the
    //      (bounded: slice 10 after sort) event list. ----
    // ---- WIN-7: segmented running balance (`running_reset`) — per-user
    //      running total of value that RESETS at every 'signup' event
    //      (balance-since-last-reset: the meter/ledger/quota pattern —
    //      usage since last top-up, spend since last statement). The
    //      reset is not expressible as one window frame; the standard
    //      rewrite is TWO stacked windows sharing ONE per-user sort:
    //      a running count of reset markers assigns each row its segment
    //      id, then the running sum partitions by (user, segment). The
    //      reset row itself STARTS its segment (inclusive semantics —
    //      its own value is the opening balance). Exact DECIMAL running
    //      sums (§5.3). One shuffle; Spark plans both windows in a
    //      single Window node chain over the same sort order. ----
    "running_reset" -> ((s, d) => {
      val e = load(s, d, "events")
      val byU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val seg = sum(when(col("event_type") === "signup", 1L).otherwise(0L))
        .over(byU.rowsBetween(Window.unboundedPreceding, 0))
      val withSeg = e.withColumn("seg", seg.cast("int"))
      val bySeg = Window.partitionBy(col("user_id"), col("seg"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      ordered(withSeg.select(col("event_id"), col("user_id"), col("ts"),
        col("seg"), cstr(sum(dec(col("value"))).over(bySeg).cast(dt)).as("balance")))
    }),

    // ---- WIN-8: floor-clamped running balance (`bounded_balance`) — the
    //      inventory/prepaid-credit accumulator b_t = max(0, b_{t-1}+x_t):
    //      credits (purchase/signup value) in, debits (click/error) out,
    //      and the balance can never go below zero — a NONLINEAR
    //      recurrence that looks window-inexpressible (each row depends
    //      on the clamped previous row, the trap that usually forces
    //      mapGroups state). The REFLECTION IDENTITY makes it two plain
    //      windows: b_t = prefix_t − min(0, min_{i≤t} prefix_i) — the
    //      clamp only ever subtracts the deepest sub-zero excursion so
    //      far (proved by induction; certified against the direct
    //      recurrence in QualityOpsSpec). All arithmetic exact decimal.
    //      Shape: ONE per-user sort carries both window passes (the
    //      running sum and the running min share the frame, so Spark
    //      plans one exchange + one sort); per-row state is O(1) — the
    //      100 TB shape for any clamped accumulator; the dual identity
    //      (running MAX of the prefix overshoot) serves ceiling caps. ----
    "bounded_balance" -> ((s, d) => {
      val e = load(s, d, "events")
      val flow = when(col("event_type").isin("purchase", "signup"),
          dec(col("value")))
        .when(col("event_type").isin("click", "error"), -dec(col("value")))
        .otherwise(lit(0).cast(dt))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val p = e.withColumn("flow", flow)
        .withColumn("prefix", sum(col("flow")).over(w).cast(dt))
        .withColumn("runmin", min(col("prefix")).over(w).cast(dt))
      ordered(p.select(col("event_id"), col("user_id"), col("ts"),
        cstr(col("flow")).as("flow"),
        cstr((col("prefix") -
          least(lit(0).cast(dt), col("runmin"))).cast(dt)).as("balance")))
    }),

    // ---- CTX-1: pre-conversion context extraction (`purchase_context`) —
    //      for every purchase, the user's ordered event sequence in the
    //      preceding 30 minutes (exclusive of the purchase instant): the
    //      bounded-context windowing a sequence-model training pipeline
    //      runs to turn an event stream into (context → outcome) examples.
    //      RANGE frame on the µs epoch does the time bound; the collected
    //      structs are array_sort'ed (PTH-1's structural-determinism rule —
    //      frame ACCUMULATION order is only as deterministic as the
    //      single-column range sort, and same-µs ties would float).
    //      One per-user window sort, zero joins; per-row state bounded by
    //      the 30-min activity burst, not history. ----
    "purchase_context" -> ((s, d) => {
      val e = load(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
        .rangeBetween(-1800L * 1000000L, -1L)
      val ctx = e.withColumn("tsu", unix_micros(col("ts")))
        .withColumn("cs", collect_list(
          struct(col("tsu").as("t"), col("event_id").as("i"),
            col("event_type").as("y"))).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("css", array_sort(col("cs")))
      ordered(ctx.select(col("event_id"), col("user_id"), col("ts"),
        size(col("css")).as("ctx_n"),
        array_join(transform(col("css"), c =>
          concat_ws(":", c.getField("t"), c.getField("i"), c.getField("y"))),
          "|").as("ctx")))
    }),

    "path1" -> ((s, d) => {
      val e = load(s, d, "events")
      val seq_ = array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type"))))
      ordered(e.groupBy(col("user_id"))
        .agg(seq_.as("evs"), count(lit(1)).as("n_events"))
        .select(col("user_id"),
          array_join(transform(slice(col("evs"), 1, 10), x => x("event_type")), ">")
            .as("path"),
          col("n_events")))
    }),

    // ---- SURV-1: Kaplan–Meier survival curve (`survival_km`) — the
    //      churn statistic cohort tables only approximate: per observed
    //      lifetime day t, the at-risk count, churn events, right-
    //      censored exits, and the KM survival estimate
    //      S(t) = Π_{u≤t}(1 − d_u/n_u). Lifetime = first→last activity in
    //      whole HOURS per user (this corpus is a ~30-day window — day
    //      grain collapses every user to 3 buckets; grain follows the
    //      observation span); a user whose last activity is within 24 h
    //      of the corpus end is CENSORED (still alive for all we know —
    //      counting them as churn is the classic retention-curve bias KM
    //      exists to fix). Shape: one per-user min/max aggregate (the only
    //      data-sized shuffle), collapse to the |distinct lifetimes|
    //      relation (calendar-bounded), exclusive-prefix risk counts and
    //      the cumulative product over that domain-sized series — the
    //      product via exp∘Σln in IDENTICAL term order both engines
    //      (ulp-level ln differences across engines drift ~1e-13 over a
    //      calendar of terms, far below dec4 — txt_entropy's precedent);
    //      a zero factor (everyone at risk dies) short-circuits S to 0
    //      through an explicit flag rather than ln(0) (NULL in Spark,
    //      -inf in DuckDB — the one place the engines disagree). ----
    "survival_km" -> ((s, d) => {
      val e = load(s, d, "events")
      val span = e.agg(max(unix_micros(col("ts"))).as("endu"))
      val life = e.groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("f"),
          max(unix_micros(col("ts"))).as("l"))
        .crossJoin(broadcast(span))
        .select(call_function("div", col("l") - col("f"),
            lit(3600000000L)).as("t"),
          (col("endu") - col("l") < 24L * 3600000000L).cast("int").as("cens"))
      val perT = life.groupBy(col("t")).agg(
        sum(lit(1) - col("cens")).as("d_n"), sum(col("cens")).as("c_n"))
      val tot = perT.agg(sum(col("d_n") + col("c_n")).as("total"))
      val wPre = Window.partitionBy(lit(0)).orderBy(col("t").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(lit(0)).orderBy(col("t").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val st = perT.crossJoin(broadcast(tot))
        .withColumn("n_risk", col("total") -
          coalesce(sum(col("d_n") + col("c_n")).over(wPre), lit(0L)))
        .withColumn("factor",
          when(col("d_n") > 0,
            (col("n_risk") - col("d_n")).cast("double") /
              col("n_risk").cast("double")).otherwise(lit(1.0)))
      val surv = st
        .withColumn("hit0", max(when(col("factor") === 0.0, 1).otherwise(0)).over(wCum))
        .withColumn("lnsum",
          sum(when(col("factor") > 0.0, log(col("factor"))).otherwise(0.0)).over(wCum))
      ordered(surv.select(col("t"), col("n_risk"), col("d_n"), col("c_n"),
        dec4S(when(col("hit0") === 1, 0.0).otherwise(exp(col("lnsum"))))
          .as("survival")))
    }),

    // ---- CHT-1: cohort retention — users grouped by first-activity day
    //      (their cohort), then per (cohort_day, day_offset) distinct
    //      active users — the retention-curve table behind every growth
    //      dashboard. Two aggregations: per-user first day (one shuffle
    //      by user), then distinct users per (cohort, offset) — the
    //      (user, day) activity relation is deduplicated BEFORE the count
    //      so the final aggregate is a plain count over a distinct set,
    //      not a count-distinct expansion. At 100 TB the first agg is the
    //      only full-data shuffle; the dedup'd activity table is ~|users|
    //      × active-days, orders of magnitude smaller than raw events. ----
    "cohort" -> ((s, d) => {
      val e = load(s, d, "events")
      val act = e.select(col("user_id"),
        to_date(col("ts")).as("day")).distinct()
      val first = act.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      ordered(act.join(first, "user_id")
        .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("int"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_active")))
    }),

    // ---- DEB-1: event debounce (`debounce`) — keep an event only if it
    //      arrives > 4 h after the last KEPT event of the same user: the
    //      throttle semantics of notification caps, scraper cool-downs,
    //      and alert dedup. NOT sessionization (the gap is measured from
    //      the last kept event, not the previous raw one: 0 h, 3 h, 6 h
    //      keeps {0, 6} under a 5 h rule where lag-gap would fuse all
    //      three) and PROVABLY not window-expressible: each decision
    //      depends on the full kept-chain prefix, a data-dependent
    //      recurrence with no prefix-algebra closed form (contrast WIN-8,
    //      whose clamp DOES have one). This is the repo's one deliberate
    //      batch use of the TYPED SEQUENTIAL ESCAPE HATCH — per-user
    //      `flatMapGroups` folding the µs-ordered chain (SURVEY §2's
    //      preference order (d), justified only when (a)–(c) cannot
    //      express the semantics); per-user state is one Long, groups
    //      are user-bounded, the shuffle is the same user-keyed exchange
    //      every sessionization pays. Oracle = a DuckDB RECURSIVE CTE
    //      stepping the identical chain. Output = per-user census
    //      (n_events, n_kept, kept-id checksum — pins WHICH events
    //      survived, not just how many). ----
    "debounce" -> ((s, d) => {
      import s.implicits._
      val gapUs = 14400L * 1000000L
      val e = load(s, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[graft.streaming.StreamOps.Ev]
      val out = e.groupByKey(_.user_id).flatMapGroups { (uid, it) =>
        val sorted = graft.streaming.StreamOps.inTimeOrder(it)
        var lastKept = Long.MinValue
        var nKept = 0L; var idSum = 0L
        sorted.foreach { ev =>
          val t = graft.streaming.StreamOps.micros(ev.ts)
          if (lastKept == Long.MinValue || t - lastKept > gapUs) {
            lastKept = t; nKept += 1; idSum += ev.event_id
          }
        }
        Iterator.single((uid, sorted.size.toLong, nKept, idSum))
      }.toDF("user_id", "n_events", "n_kept", "kept_id_sum")
      ordered(out)
    }),

    // ---- ATTR-2: position-based multi-touch attribution
    //      (`attr_position`) — ATTR-1 gives the last click everything;
    //      the U-shaped model spreads each purchase's credit over ALL
    //      clicks in its 1-day lookback: 40% first touch (discovery),
    //      40% last (closer), the middle 20% split evenly — the standard
    //      multi-touch compromise marketing mix reviews run. Credit rolls
    //      up to a pseudo-campaign (props.k mod 10 — exercising the JSON
    //      path in an attribution flow). Weight arithmetic: k-way CASE on
    //      exact ints, the middle split 0.2/(k−2) one correctly-rounded
    //      double, credits dec4-per-row → exact decimal sums (dsum4 —
    //      order-free; per-purchase credit sums to 1 up to the declared
    //      dec4 render). Shape: purchases ⋈ clicks on user + 1-day µs
    //      band (ATTR-1's equi+band shape, fan-out bounded by a user-day
    //      of clicks, never user-history²); position rank + touch count
    //      via per-purchase windows over those bounded groups; final
    //      census is \|campaigns\|-sized. ----
    "attr_position" -> ((s, d) => {
      val e = load(s, d, "events").withColumn("tsu", unix_micros(col("ts")))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("pid"),
          col("tsu").as("pt"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_id").as("cid"),
          col("tsu").as("ct"),
          get_json_object(col("props"), "$.k").cast("int").as("kprop"))
      val j = p.join(c, col("pu") === col("cu") &&
        col("ct") <= col("pt") &&
        col("ct") > col("pt") - lit(86400L * 1000000L))
      val wp = Window.partitionBy(col("pid"))
      val wo = Window.partitionBy(col("pid")).orderBy(col("ct").asc, col("cid").asc)
      val r = j.withColumn("k", count(lit(1)).over(wp))
        .withColumn("rn", row_number().over(wo))
      val weight = when(col("k") === 1, lit(1.0))
        .when(col("k") === 2, lit(0.5))
        .when(col("rn") === 1 || col("rn") === col("k"), lit(0.4))
        .otherwise(lit(0.2) / (col("k") - 2).cast("double"))
      ordered(r.withColumn("campaign", pmod(col("kprop"), lit(10)))
        .groupBy(col("campaign"))
        .agg(count(lit(1)).as("n_touches"), dsum4S(weight).as("credit")))
    }),

    // ---- COH-2: cohort LTV triangle (`cohort_ltv`) — COH-1's revenue
    //      sibling: per (first-activity-day cohort, day offset) the
    //      purchase revenue, its CUMULATIVE sum along the cohort's life
    //      (the LTV curve a payback model reads), and cumulative LTV per
    //      cohort member — the triangle table every growth team keeps.
    //      Day-grain cohorts (the corpus spans 30 days; weekly grain
    //      would leave 4 rows). Exact decimal revenue; the cumulative
    //      window runs per cohort over the ≤\|days\|² triangle, never the
    //      fact table. Shape: one user-keyed first-activity aggregate
    //      (map-side), a broadcast cohort attach to purchases, a
    //      (cohort, offset) census, and the tiny triangle window; cohort
    //      sizes ride a second broadcast — everything after the scans is
    //      dimension-sized. ----
    "cohort_ltv" -> ((s, d) => {
      val e = load(s, d, "events")
      val first = e.groupBy(col("user_id"))
        .agg(to_date(min(col("ts"))).as("cohort_day"))
      val sizes = first.groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("n_users"))
      val cells = e.filter(col("event_type") === "purchase")
        .join(broadcast(first), Seq("user_id"))
        .withColumn("day_offset",
          datediff(to_date(col("ts")), col("cohort_day")).cast("int"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(dsum(col("value")).as("rev"))
      val wc = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
        .rowsBetween(Window.unboundedPreceding, 0)
      ordered(cells
        .withColumn("cum_rev", sum(col("rev")).over(wc).cast(dt))
        .join(broadcast(sizes), Seq("cohort_day"))
        .select(col("cohort_day"), col("day_offset"), col("n_users"),
          cstr(col("rev")).as("revenue"), cstr(col("cum_rev")).as("cum_revenue"),
          dec4S(col("cum_rev").cast("double") / col("n_users").cast("double"))
            .as("ltv_per_user")))
    }),

    // ---- CDC-1: changelog compaction — keep the LATEST record per key,
    //      the standard materialize-a-CDC-stream / upsert-log-to-snapshot
    //      step. rn=1 over (ts DESC, event_id DESC) plans as a
    //      WindowGroupLimit (per-key top-1 pushed below the window, with
    //      partial group-limits before the shuffle), so per-key state on
    //      the map side is one row — the only full-data shuffle is by
    //      user_id, which a 100 TB snapshot needs anyway to co-locate
    //      keys. event_id breaks ts ties deterministically. ----
    "cdc_latest" -> ((s, d) => {
      val e = load(s, d, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ordered(e.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("last_ts"),
          col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value")))
    }),

    // ---- IVL-1: interval overlap join — for every lag-gap session
    //      (evt2's 30-minute construction), how many sessions of OTHER
    //      users overlapped it in time (a user with N overlapping sessions
    //      contributes N): the concurrency/co-presence query behind
    //      capacity planning and abuse detection. Spark has
    //      no native interval join, and the direct formulation
    //      (`a.st <= b.en AND b.st <= a.en`) is a pure theta join — a
    //      BroadcastNestedLoop/cartesian O(n²) the CartesianGuard
    //      tripwires. Scalable formulation: TIME-BUCKET the intervals —
    //      explode each session into the 1-minute buckets it covers
    //      (fan-out ∝ duration/B + 1; avg session here is 43 s, so ~1.7
    //      buckets/session), equi-join on bucket, then the exact overlap
    //      predicate. Each overlapping pair meets in EVERY shared bucket,
    //      so it is counted ONCE by keeping only the bucket containing
    //      the LATER session start (`bucket == floor(max(st1,st2)/B)` —
    //      that instant lies inside both intervals by the definition of
    //      overlap): no pair-distinct shuffle at all. B is the tuning
    //      knob — smaller B = more fan-out rows but candidates → true
    //      pairs (at B=60 s candidates ≈ answers on this corpus); a
    //      flash-crowd hot bucket is a skewed join key, which AQE's
    //      skew-join split handles. Shuffles: one by user (sessionize),
    //      one by bucket (the join), one by session (the count) — all
    //      key-proportional, never O(n²). ----
    "ivl1" -> ((s, d) => {
      val e = load(s, d, "events")
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val newSession = when(lag(col("ts"), 1).over(byUser).isNull, 1)
        .otherwise(when(col("ts").cast("long") -
          lag(col("ts"), 1).over(byUser).cast("long") > 1800, 1).otherwise(0))
      val sess = e
        .withColumn("is_new", newSession)
        .withColumn("sid", sum(col("is_new"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        .select(col("user_id"), col("sid"), col("st"), col("en"),
          unix_micros(col("st")).as("stu"), unix_micros(col("en")).as("enu"))
      val BUS = 60L * 1000000L // 1-minute buckets, µs-exact arithmetic
      // Integral `div` (IntegralDivide), not double `/` + cast: double
      // division happens to be exact at µs-epoch magnitudes (< 2^53) but
      // integer floor division is correct BY CONSTRUCTION and stays so if
      // the bucket size ever changes.
      def bkt(c: Column): Column = call_function("div", c, lit(BUS))
      val exploded = sess.select(col("user_id"), col("sid"), col("stu"), col("enu"),
        explode(sequence(bkt(col("stu")), bkt(col("enu")))).as("bucket"))
      val a = exploded.select(col("user_id").as("u1"), col("sid").as("s1"),
        col("stu").as("st1"), col("enu").as("en1"), col("bucket"))
      val b = exploded.select(col("user_id").as("u2"), col("sid").as("s2"),
        col("stu").as("st2"), col("enu").as("en2"), col("bucket").as("bucket2"))
      val pairs = a.join(b,
        col("bucket") === col("bucket2") &&
          col("u1") =!= col("u2") &&
          col("st1") <= col("en2") && col("st2") <= col("en1") &&
          col("bucket") === bkt(greatest(col("st1"), col("st2"))))
      val counts = pairs.groupBy(col("u1"), col("s1"))
        .agg(count(lit(1)).as("n_concurrent"))
      ordered(sess.join(counts,
          col("user_id") === col("u1") && col("sid") === col("s1"), "left")
        .select(col("user_id"), col("sid").as("session_id"),
          col("st").as("session_start"), col("en").as("session_end"),
          coalesce(col("n_concurrent"), lit(0L)).as("n_concurrent")))
    }),

    // ---- ZORD-1: Z-order (Morton) layout + 2-dim box scan — the
    //      DATA-SKIPPING twin of JOIN-13's bucketing demo: the layout
    //      lever for tables queried by MORE THAN ONE dimension, where any
    //      single-column sort gives perfect skipping on that column and
    //      none on the others. Events rewritten once, range-partitioned
    //      and sorted by morton(user_id, hour(ts)) (the codegen'd
    //      MortonCode expression, §2.6), so every output file covers a
    //      NARROW RECTANGLE in (user, time) space; a (user range × time
    //      range) box predicate then intersects few files, and parquet
    //      min/max stats prune the rest at the reader (row-group level;
    //      file level in IngestSpec's explicit count — z-layout touches
    //      fewer files than the user-sorted layout for the same box).
    //      The scan itself must be layout-blind in RESULTS: the oracle
    //      runs the identical box filter on the original table. At 100 TB
    //      this is the nightly-compaction upgrade: same rewrite pass as
    //      `Ingest.compact`, plus a sort key — and the 16-bit dim buckets
    //      come from range statistics a production table maintains. ----
    "zorder_scan" -> ((s, d) => {
      val dir = zorderEvents(s, d)
      ordered(s.read.parquet(dir)
        .filter(col("user_id").between(40, 79) &&
          col("ts") >= lit("2024-01-10").cast("timestamp") &&
          col("ts") < lit("2024-01-12").cast("timestamp"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), decS(col("value")).as("value")))
    }),

    // ---- CDC-2: changelog APPLY — CDC-1 compacts a log to its latest
    //      records; this applies a multi-generation I/U/D changelog to a
    //      base snapshot, producing the next snapshot (the core of every
    //      warehouse merge/refresh job, and the general case of MRG-1's
    //      latest-wins upsert: deletes actually remove rows). Changelog
    //      derived deterministically from orders so the oracle sees
    //      identical inputs; generations exercise every op interaction:
    //      update-then-delete (k%10=3 → gone), insert-then-update (8 →
    //      updated insert), delete-then-reinsert (4 → re-inserted at 2×),
    //      plain update (2), plain insert (9), untouched base (0,1,5,6,7).
    //      Latest-op-wins per key = row_number over seq DESC, which plans
    //      as WindowGroupLimit (one row of map-side state per key — the
    //      cdc_latest shape); the apply itself is ONE full-outer join by
    //      key. At 100 TB both sides are bucketed by the merge key (the
    //      JOIN-13 layout), making the join exchange-free, and the
    //      changelog is typically ≪ base, so the real cost is one base
    //      rewrite — the same I/O floor any snapshot refresh pays. ----
    "cdc_apply" -> ((s, d) => {
      val (base, g1, g2) = cdcGenerations(load(s, d, "orders"))
      val latest = g1.unionByName(g2)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("seq").desc)))
        .filter(col("rn") === 1)
        .select(col("k").as("ck"), col("op"),
          col("price").as("cp"), col("status").as("cst"))
      ordered(base.join(latest, col("k") === col("ck"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(coalesce(col("k"), col("ck")).as("o_orderkey"),
          cstr(coalesce(col("cp"), col("price"))).as("price"),
          coalesce(col("cst"), col("status")).as("status"),
          coalesce(col("op"), lit("unchanged")).as("last_op")))
    }),

    // ---- CDC-3: changelog compaction (`cdc_compact`) — the changelog
    //      ALGEBRA between CDC-1 (latest row) and CDC-2 (apply): squash a
    //      multi-op window into per-key NET operations (Kafka log
    //      compaction / the Debezium batch squash): last op D → net D
    //      unless the window itself CREATED the key (first I) — then the
    //      key cancels out entirely; otherwise net = I if the window
    //      created it, else U, carrying the LAST value. A consumer
    //      applying the compacted log reaches the identical final state
    //      at a fraction of the ops (apply-equivalence + cancellation
    //      laws spec-pinned on [[compactChangelog]]). Shape: ONE
    //      key-keyed min_by/max_by aggregate (map-side combined — no
    //      window over the changelog), \|changed keys\|-sized output. ----
    "cdc_compact" -> ((s, d) => {
      val (_, g1, g2) = cdcGenerations(load(s, d, "orders"))
      ordered(compactChangelog(g1.unionByName(g2))
        .select(col("k").as("o_orderkey"), col("n_ops"),
          col("first_op"), col("last_op"), col("net_op"),
          col("net_price"), col("net_status")))
    }),

    // ---- MKV-1: first-order Markov transition matrix over per-user event
    //      sequences — the aggregate model behind PTH-1's raw journeys
    //      (next-step prediction, funnel leak detection, bot detection via
    //      improbable transitions). One `lag` over the per-user (ts,
    //      event_id) sort = ONE full-data shuffle by user; the transition
    //      counts then collapse to |types|² rows, so the row-probability
    //      normalization window runs on a 25-row relation — free at any
    //      corpus size. Probabilities are exact-integer-count divisions
    //      (bit-identical doubles in both engines), dec4-rendered. ----
    // ---- PTH-2: journey trigram mining (`path_trigrams`) — the
    //      next-order behavioral motif census above MKV-1's pairwise
    //      transition matrix: every consecutive event-type TRIPLE in each
    //      user's µs-ordered journey, counted corpus-wide with user reach
    //      (how many distinct users exhibit the motif) and ranked — the
    //      pattern table behind "view→click→error" funnels-gone-wrong
    //      hunting and sequence-model sanity checks (a 3-gram the model
    //      assigns mass to should exist in the data). Two stacked lags on
    //      ONE per-user window sort produce each row's trigram in place —
    //      no self-joins, no explode, fan-out exactly 1 row per event
    //      (minus 2 warmups per user); the census is map-side combined
    //      over the ≤\|types\|³ motif space; top-k is TakeOrdered. ----
    "path_trigrams" -> ((s, d) => {
      val e = load(s, d, "events")
      val byU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val tri = e
        .withColumn("p1", lag(col("event_type"), 1).over(byU))
        .withColumn("p2", lag(col("event_type"), 2).over(byU))
        .filter(col("p2").isNotNull)
        .select(col("user_id"),
          concat_ws(">", col("p2"), col("p1"), col("event_type")).as("motif"))
      ordered(tri.groupBy(col("motif"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("n_occurrences").desc, col("motif").asc)
        .limit(15))
    }),

    // ---- SEQ-2: regex pattern matching over event SEQUENCES
    //      (`seq_regex`) — the MATCH_RECOGNIZE operator class (SQL:2016,
    //      public; Spark ships no native row-pattern operator): each
    //      user's µs-ordered journey collapses to a compact symbol
    //      string (one initial per event — the five types map to
    //      distinct letters), and the behavioral question "a view, then
    //      a click, then the FIRST purchase after it, with no purchase
    //      in between" is the regex v[^p]*c[^p]*p evaluated by the
    //      engine's regexp machinery — arbitrary sequence patterns
    //      without a bespoke state-machine operator. The journey build
    //      is one per-user collect (array_sort of (ts, event_id, sym)
    //      structs — scrub_segments' ordered-fold idiom, exact total
    //      order); the match is then a scan over |users| short strings.
    //      Java regex and RE2 agree on leftmost-first greedy semantics
    //      for this backreference-free pattern, so match text and
    //      length hash exactly. At 100 TB journeys are burst-bounded
    //      (CTX-1/BOT-1's argument), not corpus-proportional; patterns
    //      over unbounded histories ride the STR-ST sessionizer
    //      instead. ----
    "seq_regex" -> ((s, d) => {
      val e = load(s, d, "events")
      val pat = "v[^p]*c[^p]*p"
      val j = e.groupBy(col("user_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("sym")))),
          x => x.getField("sym")), "").as("journey"))
      val m = regexp_extract(col("journey"), pat, 0)
      ordered(j.select(col("user_id"),
        length(col("journey")).cast("long").as("n_events"),
        (m =!= "").cast("long").as("matched"),
        length(m).cast("long").as("match_len"),
        m.as("match_str")))
    }),

    "evt_markov" -> ((s, d) => {
      val e = load(s, d, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val trans = e.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .select(col("prev_type"), col("event_type").as("next_type"))
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy(col("prev_type"))
      ordered(trans.withColumn("p", dec4S(col("n").cast("double") /
        sum(col("n")).over(wp).cast("double"))))
    })
  )

  /** CDC-2's deterministic derivation, shared with StreamingSpec's
    * STR-CDC replay: (base snapshot, changelog generation 1, generation
    * 2). Each generation is internally key-unique, which is exactly the
    * property that makes sequential per-generation apply (the stream)
    * equal to global latest-op-wins (the batch query). */
  /** The lag-gap session relation (user_id, sid, stu, enu in µs) shared
    * by the IVL family (IVL-2 islands, IVL-3 concurrency, IVL-4 gaps):
    * per-user 30-min-gap sessionization, events compressed to one row per
    * session — one definition so the three interval statistics can never
    * disagree about what a session is. */
  private[queries] def lagGapSessions(s: SparkSession, d: String): DataFrame = {
    val e = load(s, d, "events")
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val newSession = when(lag(col("ts"), 1).over(byUser).isNull, 1)
      .otherwise(when(col("ts").cast("long") -
        lag(col("ts"), 1).over(byUser).cast("long") > 1800, 1).otherwise(0))
    e.withColumn("is_new", newSession)
      .withColumn("sid", sum(col("is_new"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
      .groupBy(col("user_id"), col("sid"))
      .agg(unix_micros(min(col("ts"))).as("stu"),
        unix_micros(max(col("ts"))).as("enu"))
  }

  def cdcGenerations(orders: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val o = orders.select(col("o_orderkey").as("k"),
      col("o_totalprice").as("p"), col("o_orderstatus").as("st"))
    val m = pmod(col("k"), lit(10))
    val base = o.filter(m < 8)
      .select(col("k"), dec(col("p")).as("price"), col("st").as("status"))
    val g1 = o.select(col("k"), lit(1).as("seq"),
        when(m.isin(2, 3), lit("U"))
          .when(m.isin(8, 9), lit("I"))
          .when(m === 4, lit("D")).as("op"),
        when(m.isin(2, 3), dec4(col("p") * lit(1.05)))
          .when(m.isin(8, 9), dec(col("p"))).as("price"),
        col("st").as("status"))
      .filter(col("op").isNotNull)
    val g2 = o.select(col("k"), lit(2).as("seq"),
        when(m === 3, lit("D"))
          .when(m === 8, lit("U"))
          .when(m === 4, lit("I")).as("op"),
        when(m === 8, dec4(col("p") * lit(1.10)))
          .when(m === 4, dec4(col("p") * lit(2.0))).as("price"),
        col("st").as("status"))
      .filter(col("op").isNotNull)
    (base, g1, g2)
  }

  /** CDC-3's compaction core, factored so the spec can feed crafted logs
    * (the I→D cancellation never occurs in the gated fixture): input is a
    * `(k, seq, op, price, status)` changelog, output one net row per
    * surviving key. */
  def compactChangelog(log: DataFrame): DataFrame = {
    val agg = log.groupBy(col("k")).agg(
      count(lit(1)).as("n_ops"),
      min_by(struct(col("op")), col("seq")).as("f"),
      max_by(struct(col("op"), col("price"), col("status")), col("seq")).as("l"))
    val net = when(col("l.op") === "D",
        when(col("f.op") === "I", lit(null)).otherwise(lit("D")))
      .otherwise(when(col("f.op") === "I", lit("I")).otherwise(lit("U")))
    agg.withColumn("net_op", net)
      .filter(col("net_op").isNotNull)
      .select(col("k"), col("n_ops"),
        col("f.op").as("first_op"), col("l.op").as("last_op"), col("net_op"),
        when(col("net_op") === "D", lit(null).cast("string"))
          .otherwise(cstr(col("l.price"))).as("net_price"),
        when(col("net_op") === "D", lit(null).cast("string"))
          .otherwise(col("l.status")).as("net_status"))
  }

  /** Z-order copy of events, built once per (process, sfDir): 16 files,
    * range-partitioned + sorted by the Morton interleave of user_id and
    * event-hour, both min/max-normalized to a shared 8-bit scale (see the
    * bit-scale pitfall note below). Layout only: content is row-identical
    * to the source (asserted in IngestSpec). */
  def zorderEvents(s: SparkSession, d: String): String =
    graft.core.Warehouse.once(d, "events_zorder") { out =>
      val e = load(s, d, "events")
      // Both dims NORMALIZED to the same 8-bit width from their min/max
      // range stats (the StorageSpec recipe, and its documented pitfall:
      // interleaving raw values degenerates whenever the dims' bit-scales
      // differ — the wider dim's high bits monopolize the code and the
      // "z-order" collapses into a single-dim sort; raw epoch-hours would
      // additionally wrap every 2^16 h). One tiny min/max action per
      // build = the range statistics a production table maintains;
      // per-dimension quantile ranks are the skew-immune upgrade.
      // Integral `div`, not double `/`+floor: same reasoning as ivl1's
      // bucketing — double division is accidentally exact at µs-epoch
      // magnitudes, integral division is exact by construction.
      val hourRaw = call_function("div", unix_micros(col("ts")), lit(3600000000L))
      val r = e.agg(min(col("user_id")), max(col("user_id")),
        min(hourRaw), max(hourRaw)).head()
      def lohi(i: Int): (Long, Long) =
        (Option(r.get(i)).map(_.asInstanceOf[Long]).getOrElse(0L),
          Option(r.get(i + 1)).map(_.asInstanceOf[Long]).getOrElse(0L))
      val ((uLo, uHi), (hLo, hHi)) = (lohi(0), lohi(2))
      def norm8(c: Column, lo: Long, hi: Long): Column =
        floor((c - lit(lo)) * 256L / lit(math.max(1L, hi - lo + 1))).cast("long")
      val z = graft.functions.GraftFunctions.morton_code(
        norm8(col("user_id"), uLo, uHi), norm8(hourRaw, hLo, hHi))
      e.withColumn("_z", z)
        .repartitionByRange(16, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite").parquet(out)
    }

  val oracle: Map[String, String] = Map(
    "survival_km" ->
      """WITH span AS (SELECT MAX(epoch_us(ts)) AS endu FROM events),
        |life AS (
        |  SELECT (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 3600000000 AS t,
        |    CAST(span.endu - MAX(epoch_us(ts)) < 24 * 3600000000 AS INT) AS cens
        |  FROM events CROSS JOIN span GROUP BY user_id, span.endu
        |), pert AS (
        |  SELECT t, CAST(SUM(1 - cens) AS BIGINT) AS d_n,
        |    CAST(SUM(cens) AS BIGINT) AS c_n
        |  FROM life GROUP BY t
        |), tot AS (SELECT CAST(SUM(d_n + c_n) AS BIGINT) AS total FROM pert),
        |st AS (
        |  SELECT t, d_n, c_n,
        |    CAST(total - COALESCE(SUM(d_n + c_n) OVER
        |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM pert CROSS JOIN tot
        |), fct AS (
        |  SELECT *, CASE WHEN d_n > 0
        |      THEN CAST(n_risk - d_n AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |      ELSE 1.0 END AS factor
        |  FROM st
        |), cum AS (
        |  SELECT t, n_risk, d_n, c_n,
        |    MAX(CASE WHEN factor = 0.0 THEN 1 ELSE 0 END) OVER w AS hit0,
        |    SUM(CASE WHEN factor > 0.0 THEN ln(factor) ELSE 0.0 END) OVER w AS lnsum
        |  FROM fct
        |  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT t, n_risk, d_n, c_n,
        |  CAST(CAST(floor((CASE WHEN hit0 = 1 THEN 0.0 ELSE exp(lnsum) END)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS survival
        |FROM cum
        |ORDER BY t NULLS FIRST, n_risk NULLS FIRST, d_n NULLS FIRST, c_n NULLS FIRST, survival NULLS FIRST""".stripMargin,

    "funnel_latency" ->
      """WITH fc AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS fc_us
        |  FROM events WHERE event_type = 'click' GROUP BY 1
        |), conv AS (
        |  SELECT e.user_id, fc.fc_us, MIN(epoch_us(e.ts)) AS fp_us
        |  FROM events e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fc.fc_us
        |  GROUP BY 1, 2
        |), lat AS (
        |  SELECT CAST(isodow(make_timestamp(fc_us)) AS INT) AS dow,
        |    (fp_us - fc_us) / 1000000.0 AS lat_s
        |  FROM conv
        |)
        |SELECT dow, CAST(COUNT(1) AS BIGINT) AS n,
        |  CAST(CAST(floor((quantile_cont(lat_s, 0.25))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p25_s,
        |  CAST(CAST(floor((quantile_cont(lat_s, 0.5))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p50_s,
        |  CAST(CAST(floor((quantile_cont(lat_s, 0.9))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p90_s
        |FROM lat GROUP BY dow
        |ORDER BY dow NULLS FIRST, n NULLS FIRST, p25_s NULLS FIRST, p50_s NULLS FIRST, p90_s NULLS FIRST""".stripMargin,

    // Same deterministic changelog derivation; latest-op-wins via QUALIFY,
    // apply via FULL OUTER join, deletes filtered.
    "cdc_apply" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p,
        |    o_orderstatus AS st, o_orderkey % 10 AS m FROM orders),
        |base AS (SELECT k, CAST(p AS DECIMAL(38,4)) AS price, st AS status
        |  FROM o WHERE m < 8),
        |g1 AS (SELECT k, 1 AS seq,
        |    CASE WHEN m IN (2,3) THEN 'U' WHEN m IN (8,9) THEN 'I'
        |         WHEN m = 4 THEN 'D' END AS op,
        |    CASE WHEN m IN (2,3) THEN CAST(floor((p*1.05)*10000+0.5)/10000 AS DECIMAL(38,4))
        |         WHEN m IN (8,9) THEN CAST(p AS DECIMAL(38,4)) END AS price,
        |    st AS status
        |  FROM o WHERE m IN (2,3,4,8,9)),
        |g2 AS (SELECT k, 2 AS seq,
        |    CASE WHEN m = 3 THEN 'D' WHEN m = 8 THEN 'U'
        |         WHEN m = 4 THEN 'I' END AS op,
        |    CASE WHEN m = 8 THEN CAST(floor((p*1.10)*10000+0.5)/10000 AS DECIMAL(38,4))
        |         WHEN m = 4 THEN CAST(floor((p*2.0)*10000+0.5)/10000 AS DECIMAL(38,4)) END AS price,
        |    st AS status
        |  FROM o WHERE m IN (3,4,8)),
        |cl AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
        |latest AS (SELECT k AS ck, op, price AS cp, status AS cst FROM cl
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) = 1)
        |SELECT COALESCE(b.k, l.ck) AS o_orderkey,
        |  CAST(COALESCE(l.cp, b.price) AS VARCHAR) AS price,
        |  COALESCE(l.cst, b.status) AS status,
        |  COALESCE(l.op, 'unchanged') AS last_op
        |FROM base b FULL OUTER JOIN latest l ON b.k = l.ck
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY o_orderkey NULLS FIRST, price NULLS FIRST, status NULLS FIRST, last_op NULLS FIRST""".stripMargin,

    // The same g1/g2 generation CTEs as cdc_apply; net rules spelled as
    // first/last windows over the unioned log.
    "cdc_compact" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p,
        |    o_orderstatus AS st, o_orderkey % 10 AS m FROM orders),
        |g1 AS (SELECT k, 1 AS seq,
        |    CASE WHEN m IN (2,3) THEN 'U' WHEN m IN (8,9) THEN 'I'
        |         WHEN m = 4 THEN 'D' END AS op,
        |    CASE WHEN m IN (2,3) THEN CAST(floor((p*1.05)*10000+0.5)/10000 AS DECIMAL(38,4))
        |         WHEN m IN (8,9) THEN CAST(p AS DECIMAL(38,4)) END AS price,
        |    st AS status
        |  FROM o WHERE m IN (2,3,4,8,9)),
        |g2 AS (SELECT k, 2 AS seq,
        |    CASE WHEN m = 3 THEN 'D' WHEN m = 8 THEN 'U'
        |         WHEN m = 4 THEN 'I' END AS op,
        |    CASE WHEN m = 8 THEN CAST(floor((p*1.10)*10000+0.5)/10000 AS DECIMAL(38,4))
        |         WHEN m = 4 THEN CAST(floor((p*2.0)*10000+0.5)/10000 AS DECIMAL(38,4)) END AS price,
        |    st AS status
        |  FROM o WHERE m IN (3,4,8)),
        |cl AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
        |w AS (SELECT k, op, price, status,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq ASC) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rd,
        |    COUNT(1) OVER (PARTITION BY k) AS n_ops
        |  FROM cl),
        |f AS (SELECT k, op AS first_op, n_ops FROM w WHERE ra = 1),
        |l AS (SELECT k, op AS last_op, price, status FROM w WHERE rd = 1),
        |c AS (SELECT f.k, n_ops, first_op, last_op, price, status,
        |    CASE WHEN last_op = 'D' THEN (CASE WHEN first_op = 'I' THEN NULL ELSE 'D' END)
        |         WHEN first_op = 'I' THEN 'I' ELSE 'U' END AS net_op
        |  FROM f JOIN l ON f.k = l.k)
        |SELECT k AS o_orderkey, CAST(n_ops AS BIGINT) AS n_ops, first_op, last_op, net_op,
        |  CASE WHEN net_op = 'D' THEN NULL ELSE CAST(price AS VARCHAR) END AS net_price,
        |  CASE WHEN net_op = 'D' THEN NULL ELSE status END AS net_status
        |FROM c WHERE net_op IS NOT NULL
        |ORDER BY o_orderkey NULLS FIRST, n_ops NULLS FIRST, first_op NULLS FIRST, last_op NULLS FIRST, net_op NULLS FIRST, net_price NULLS FIRST, net_status NULLS FIRST""".stripMargin,

    "evt_markov" ->
      """WITH t AS (
        |  SELECT event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, COUNT(1) AS n
        |  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(CAST(floor((CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE))*10000+0.5)/10000
        |    AS DECIMAL(38,4)) AS VARCHAR) AS p
        |FROM c
        |ORDER BY prev_type NULLS FIRST, next_type NULLS FIRST, n NULLS FIRST, p NULLS FIRST""".stripMargin,

    // The box filter on the ORIGINAL table: a layout rewrite must be
    // invisible to every query result.
    "zorder_scan" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |  CAST(CAST(value AS DECIMAL(38,4)) AS VARCHAR) AS value
        |FROM events
        |WHERE user_id BETWEEN 40 AND 79
        |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, ts NULLS FIRST,
        |  event_type NULLS FIRST, value NULLS FIRST""".stripMargin,
    // The oracle spells the DECLARED semantics — the plain overlap
    // theta-join count (DuckDB plans it as an IEJoin); the Spark side's
    // time-bucket decomposition must reproduce it exactly.
    "ivl1" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
        |    CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN date_diff('second', LAG(CAST(ts AS TIMESTAMP)) OVER w,
        |                        CAST(ts AS TIMESTAMP)) > 1800 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
        |), numbered AS (
        |  SELECT user_id, uts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY uts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS sid
        |  FROM flagged
        |), sess AS (
        |  SELECT user_id, sid, MIN(uts) AS st, MAX(uts) AS en
        |  FROM numbered GROUP BY user_id, sid
        |)
        |, counted AS (
        |  SELECT a.user_id AS user_id, a.sid AS session_id, a.st AS session_start,
        |    a.en AS session_end, COUNT(b.user_id) AS n_concurrent
        |  FROM sess a LEFT JOIN sess b
        |    ON a.user_id <> b.user_id AND a.st <= b.en AND b.st <= a.en
        |  GROUP BY a.user_id, a.sid, a.st, a.en
        |)
        |SELECT user_id, session_id, session_start, session_end, n_concurrent
        |FROM counted
        |ORDER BY user_id NULLS FIRST, session_id NULLS FIRST, session_start NULLS FIRST, session_end NULLS FIRST, n_concurrent NULLS FIRST""".stripMargin,

    "resample" ->
      """WITH o AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS uts FROM events),
        |b AS (SELECT user_id, MIN(uts) AS t0, MAX(uts) AS t1 FROM o GROUP BY 1),
        |g AS (
        |  SELECT user_id, unnest(generate_series(date_trunc('hour', t0) + INTERVAL 1 HOUR, t1, INTERVAL 1 HOUR)) AS uts
        |  FROM b WHERE date_trunc('hour', t0) + INTERVAL 1 HOUR <= t1),
        |u AS (
        |  SELECT user_id, uts, event_id, value, 0 AS tag FROM o
        |  UNION ALL
        |  SELECT user_id, uts, NULL, NULL, 1 FROM g),
        |w AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN tag = 0 THEN value END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY uts ASC, tag ASC, event_id ASC NULLS FIRST
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    LAST_VALUE(CASE WHEN tag = 0 THEN uts END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY uts ASC, tag ASC, event_id ASC NULLS FIRST
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    FIRST_VALUE(CASE WHEN tag = 0 THEN value END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY uts ASC, tag ASC, event_id ASC NULLS FIRST
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    FIRST_VALUE(CASE WHEN tag = 0 THEN uts END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY uts ASC, tag ASC, event_id ASC NULLS FIRST
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM u)
        |SELECT user_id, uts AS grid_ts,
        |  CAST(CAST(floor((CASE WHEN nt IS NULL OR epoch_us(nt) = epoch_us(pt) THEN pv
        |    ELSE pv + (nv - pv) * (CAST(epoch_us(uts) - epoch_us(pt) AS DOUBLE) / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE)) END)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS value_interp
        |FROM w WHERE tag = 1
        |ORDER BY user_id NULLS FIRST, grid_ts NULLS FIRST, value_interp NULLS FIRST""".stripMargin,

    "wau" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |contrib AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
        |    CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS bucket_day
        |  FROM act),
        |days AS (SELECT DISTINCT day FROM act)
        |SELECT bucket_day, COUNT(DISTINCT user_id) AS wau
        |FROM contrib JOIN days ON bucket_day = day
        |GROUP BY 1
        |ORDER BY bucket_day NULLS FIRST, wau NULLS FIRST""".stripMargin,

    "scd2" ->
      """WITH o AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS uts FROM events),
        |c AS (
        |  SELECT *, (LAG(event_type) OVER w IS NULL OR LAG(event_type) OVER w <> event_type) AS chg
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY uts ASC, event_id ASC)),
        |f AS (SELECT user_id, event_type, uts, event_id FROM c WHERE chg)
        |SELECT user_id, event_type AS state, uts AS valid_from,
        |  LEAD(uts) OVER w2 AS valid_to,
        |  (LEAD(uts) OVER w2 IS NULL) AS is_current
        |FROM f WINDOW w2 AS (PARTITION BY user_id ORDER BY uts ASC, event_id ASC)
        |ORDER BY user_id NULLS FIRST, state NULLS FIRST, valid_from NULLS FIRST, valid_to NULLS FIRST, is_current NULLS FIRST""".stripMargin,

    "scd2_pit" ->
      """WITH o AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS uts FROM events),
        |c AS (
        |  SELECT *, (LAG(event_type) OVER w IS NULL OR LAG(event_type) OVER w <> event_type) AS chg
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY uts ASC, event_id ASC)),
        |f AS (SELECT user_id, event_type, uts, event_id FROM c WHERE chg),
        |scd AS (
        |  SELECT user_id, event_type AS state, uts AS valid_from,
        |    LEAD(uts) OVER w2 AS valid_to
        |  FROM f WINDOW w2 AS (PARTITION BY user_id ORDER BY uts ASC, event_id ASC)),
        |p AS (SELECT event_id, user_id, uts FROM o WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.uts AS ts,
        |  s.state AS state_at, s.valid_from AS state_since
        |FROM p JOIN scd s ON p.user_id = s.user_id
        |  AND s.valid_from <= p.uts AND (s.valid_to IS NULL OR p.uts < s.valid_to)
        |ORDER BY event_id NULLS FIRST, p.user_id NULLS FIRST, ts NULLS FIRST, state_at NULLS FIRST, state_since NULLS FIRST""".stripMargin,

    "running_reset" ->
      """WITH s AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS seg
        |  FROM events)
        |SELECT event_id, user_id, ts, seg,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,4)))
        |    OVER (PARTITION BY user_id, seg ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS VARCHAR) AS balance
        |FROM s
        |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, ts NULLS FIRST, seg NULLS FIRST, balance NULLS FIRST""".stripMargin,

    "path_trigrams" ->
      """WITH tri AS (
        |  SELECT user_id,
        |    concat_ws('>',
        |      LAG(event_type, 2) OVER w, LAG(event_type, 1) OVER w, event_type) AS motif,
        |    LAG(event_type, 2) OVER w AS p2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        |SELECT motif, COUNT(1) AS n_occurrences,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM tri WHERE p2 IS NOT NULL
        |GROUP BY motif
        |ORDER BY n_occurrences DESC, motif ASC
        |LIMIT 15""".stripMargin,

    "seq_regex" ->
      """WITH j AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts ASC, event_id ASC) AS journey
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT user_id, journey,
        |    COALESCE(regexp_extract(journey, 'v[^p]*c[^p]*p', 0), '') AS ms
        |  FROM j)
        |SELECT user_id, CAST(length(journey) AS BIGINT) AS n_events,
        |  CAST(CASE WHEN ms <> '' THEN 1 ELSE 0 END AS BIGINT) AS matched,
        |  CAST(length(ms) AS BIGINT) AS match_len,
        |  ms AS match_str
        |FROM m
        |ORDER BY user_id NULLS FIRST, n_events NULLS FIRST, matched NULLS FIRST, match_len NULLS FIRST, match_str NULLS FIRST""".stripMargin,

    "debounce" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, t, rn, t AS last_kept, TRUE AS kept
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.t, e.rn,
        |    CASE WHEN e.t - r.last_kept > 14400000000 THEN e.t ELSE r.last_kept END,
        |    e.t - r.last_kept > 14400000000
        |  FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT user_id, COUNT(1) AS n_events,
        |  CAST(COUNT(1) FILTER (kept) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN event_id ELSE 0 END) AS BIGINT) AS kept_id_sum
        |FROM r GROUP BY user_id
        |ORDER BY user_id NULLS FIRST, n_events NULLS FIRST, n_kept NULLS FIRST, kept_id_sum NULLS FIRST""".stripMargin,

    "attr_position" ->
      """WITH p AS (
        |  SELECT user_id AS pu, event_id AS pid, epoch_us(ts) AS pt
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id AS cu, event_id AS cid, epoch_us(ts) AS ct,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS kprop
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT * FROM p JOIN c ON pu = cu
        |  WHERE ct <= pt AND ct > pt - 86400000000),
        |r AS (
        |  SELECT *, COUNT(1) OVER (PARTITION BY pid) AS k,
        |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ct ASC, cid ASC) AS rn
        |  FROM j),
        |w AS (
        |  SELECT kprop % 10 AS campaign,
        |    CASE WHEN k = 1 THEN 1.0
        |         WHEN k = 2 THEN 0.5
        |         WHEN rn = 1 OR rn = k THEN 0.4
        |         ELSE 0.2 / CAST(k - 2 AS DOUBLE) END AS weight
        |  FROM r)
        |SELECT campaign, COUNT(1) AS n_touches,
        |  CAST(CAST(SUM(CAST(floor((weight)*10000+0.5)/10000 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS credit
        |FROM w GROUP BY campaign
        |ORDER BY campaign NULLS FIRST, n_touches NULLS FIRST, credit NULLS FIRST""".stripMargin,

    "cohort_ltv" ->
      """WITH first AS (
        |  SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
        |  FROM events GROUP BY user_id),
        |sizes AS (
        |  SELECT cohort_day, COUNT(1) AS n_users FROM first GROUP BY 1),
        |cells AS (
        |  SELECT f.cohort_day,
        |    CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS INT) AS day_offset,
        |    CAST(SUM(CAST(e.value AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS rev
        |  FROM events e JOIN first f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |tri AS (
        |  SELECT *, CAST(SUM(rev) OVER (PARTITION BY cohort_day ORDER BY day_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS cum_rev
        |  FROM cells)
        |SELECT t.cohort_day, t.day_offset, s.n_users,
        |  CAST(t.rev AS VARCHAR) AS revenue,
        |  CAST(t.cum_rev AS VARCHAR) AS cum_revenue,
        |  CAST(CAST(floor((CAST(t.cum_rev AS DOUBLE) / CAST(s.n_users AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS ltv_per_user
        |FROM tri t JOIN sizes s USING (cohort_day)
        |ORDER BY cohort_day NULLS FIRST, day_offset NULLS FIRST, n_users NULLS FIRST, revenue NULLS FIRST, cum_revenue NULLS FIRST, ltv_per_user NULLS FIRST""".stripMargin,

    "rolling_p95" ->
      """SELECT event_id, user_id, ts,
        |  CAST(CAST(floor((quantile_cont(value, 0.95) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p95
        |FROM events
        |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, ts NULLS FIRST, p95 NULLS FIRST""".stripMargin,

    "ivl_uptime" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
        |    CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN date_diff('second', LAG(CAST(ts AS TIMESTAMP)) OVER w,
        |                        CAST(ts AS TIMESTAMP)) > 1800 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
        |), numbered AS (
        |  SELECT user_id, uts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY uts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS sid
        |  FROM flagged
        |), sess AS (
        |  SELECT user_id, sid, epoch_us(MIN(uts)) AS stu, epoch_us(MAX(uts)) AS enu
        |  FROM numbered GROUP BY user_id, sid
        |), s1 AS (
        |  SELECT *, MAX(enu) OVER (ORDER BY stu ASC, enu ASC, user_id ASC, sid ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM sess
        |), s2 AS (
        |  SELECT *, CASE WHEN pm IS NULL OR stu > pm THEN 1 ELSE 0 END AS brk FROM s1
        |), s3 AS (
        |  SELECT *, SUM(brk) OVER (ORDER BY stu ASC, enu ASC, user_id ASC, sid ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM s2
        |), islands AS (
        |  SELECT CAST(island AS BIGINT) AS island, MIN(stu) AS ist, MAX(enu) AS ien
        |  FROM s3 GROUP BY island
        |), spans AS (
        |  SELECT island, ist, ien, i AS dayi,
        |    i * 86400000000 AS ds, (i + 1) * 86400000000 AS de
        |  FROM islands, UNNEST(generate_series(ist // 86400000000, ien // 86400000000)) AS r(i)
        |)
        |SELECT CAST(make_timestamp(dayi * 86400000000) AS DATE) AS day,
        |  CAST(COUNT(1) AS BIGINT) AS n_islands,
        |  CAST(SUM(LEAST(ien, de) - GREATEST(ist, ds)) AS BIGINT) AS covered_us,
        |  CAST(CAST(floor((CAST(SUM(LEAST(ien, de) - GREATEST(ist, ds)) AS DOUBLE) / 86400000000.0)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS uptime_ratio
        |FROM spans GROUP BY dayi
        |ORDER BY day NULLS FIRST, n_islands NULLS FIRST, covered_us NULLS FIRST, uptime_ratio NULLS FIRST""".stripMargin,

    "ivl_gaps" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
        |    CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN date_diff('second', LAG(CAST(ts AS TIMESTAMP)) OVER w,
        |                        CAST(ts AS TIMESTAMP)) > 1800 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
        |), numbered AS (
        |  SELECT user_id, uts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY uts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS sid
        |  FROM flagged
        |), sess AS (
        |  SELECT user_id, sid, epoch_us(MIN(uts)) AS stu, epoch_us(MAX(uts)) AS enu
        |  FROM numbered GROUP BY user_id, sid
        |), s1 AS (
        |  SELECT *, MAX(enu) OVER (ORDER BY stu ASC, enu ASC, user_id ASC, sid ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM sess
        |), s2 AS (
        |  SELECT *, CASE WHEN pm IS NULL OR stu > pm THEN 1 ELSE 0 END AS brk FROM s1
        |), s3 AS (
        |  SELECT *, SUM(brk) OVER (ORDER BY stu ASC, enu ASC, user_id ASC, sid ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM s2
        |), islands AS (
        |  SELECT CAST(island AS BIGINT) AS island,
        |    MIN(stu) AS ist, MAX(enu) AS ien
        |  FROM s3 GROUP BY island
        |)
        |SELECT a.island AS gap_after_island,
        |  make_timestamp(a.ien) AS gap_start,
        |  make_timestamp(b.ist) AS gap_end,
        |  CAST(b.ist - a.ien AS BIGINT) AS gap_us
        |FROM islands a JOIN islands b ON b.island = a.island + 1
        |ORDER BY gap_after_island NULLS FIRST, gap_start NULLS FIRST, gap_end NULLS FIRST, gap_us NULLS FIRST""".stripMargin,

    "ivl_concurrency" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
        |    CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN date_diff('second', LAG(CAST(ts AS TIMESTAMP)) OVER w,
        |                        CAST(ts AS TIMESTAMP)) > 1800 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
        |), numbered AS (
        |  SELECT user_id, uts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY uts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS sid
        |  FROM flagged
        |), sess AS (
        |  SELECT user_id, sid, epoch_us(MIN(uts)) AS stu, epoch_us(MAX(uts)) AS enu
        |  FROM numbered GROUP BY user_id, sid
        |), deltas AS (
        |  SELECT t, SUM(delta) AS dsum FROM (
        |    SELECT stu AS t, 1 AS delta FROM sess
        |    UNION ALL
        |    SELECT enu + 1 AS t, -1 AS delta FROM sess
        |  ) GROUP BY t
        |), conc AS (
        |  SELECT t, SUM(dsum) OVER (ORDER BY t ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM deltas
        |), pk AS (SELECT MAX(conc) AS peak FROM conc),
        |ns AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_sessions FROM sess)
        |SELECT CAST(peak AS BIGINT) AS peak_concurrency,
        |  make_timestamp(MIN(t)) AS at_ts, n_sessions
        |FROM conc CROSS JOIN pk CROSS JOIN ns
        |WHERE conc = peak
        |GROUP BY peak, n_sessions
        |ORDER BY peak_concurrency NULLS FIRST, at_ts NULLS FIRST, n_sessions NULLS FIRST""".stripMargin,

    "ivl_merge" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
        |    CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN date_diff('second', LAG(CAST(ts AS TIMESTAMP)) OVER w,
        |                        CAST(ts AS TIMESTAMP)) > 1800 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
        |), numbered AS (
        |  SELECT user_id, uts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY uts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS sid
        |  FROM flagged
        |), sess AS (
        |  SELECT user_id, sid, epoch_us(MIN(uts)) AS stu, epoch_us(MAX(uts)) AS enu
        |  FROM numbered GROUP BY user_id, sid
        |), s1 AS (
        |  SELECT *, MAX(enu) OVER (ORDER BY stu ASC, enu ASC, user_id ASC, sid ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM sess
        |), s2 AS (
        |  SELECT *, CASE WHEN pm IS NULL OR stu > pm THEN 1 ELSE 0 END AS brk FROM s1
        |), s3 AS (
        |  SELECT *, SUM(brk) OVER (ORDER BY stu ASC, enu ASC, user_id ASC, sid ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM s2
        |)
        |SELECT CAST(island AS BIGINT) AS island,
        |  make_timestamp(MIN(stu)) AS island_start,
        |  make_timestamp(MAX(enu)) AS island_end,
        |  COUNT(1) AS n_sessions,
        |  CAST(MAX(enu) - MIN(stu) AS BIGINT) AS covered_us
        |FROM s3 GROUP BY island
        |ORDER BY island NULLS FIRST, island_start NULLS FIRST, island_end NULLS FIRST, n_sessions NULLS FIRST, covered_us NULLS FIRST""".stripMargin,

    "rate_audit" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t FROM events),
        |r AS (
        |  SELECT user_id, COUNT(1) OVER (PARTITION BY user_id ORDER BY t
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS burst
        |  FROM e)
        |SELECT user_id, COUNT(1) AS n_events,
        |  CAST(MAX(burst) AS BIGINT) AS peak_burst,
        |  MAX(burst) >= 8 AS burst_flag
        |FROM r GROUP BY user_id
        |ORDER BY user_id NULLS FIRST, n_events NULLS FIRST, peak_burst NULLS FIRST, burst_flag NULLS FIRST""".stripMargin,

    "funnel_window" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_type, event_id FROM events),
        |s1 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'view' THEN t END) OVER
        |    (PARTITION BY user_id ORDER BY t ASC, event_id ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mview
        |  FROM e),
        |s2 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'click' THEN mview END) OVER
        |    (PARTITION BY user_id ORDER BY t ASC, event_id ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chain2
        |  FROM s1)
        |SELECT user_id,
        |  CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS INT) AS l1,
        |  CAST(MAX(CASE WHEN event_type = 'click' AND mview IS NOT NULL
        |    AND t - mview <= 21600000000 THEN 1 ELSE 0 END) AS INT) AS l2,
        |  CAST(MAX(CASE WHEN event_type = 'purchase' AND chain2 IS NOT NULL
        |    AND t - chain2 <= 21600000000 THEN 1 ELSE 0 END) AS INT) AS l3,
        |  CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) +
        |    MAX(CASE WHEN event_type = 'click' AND mview IS NOT NULL
        |      AND t - mview <= 21600000000 THEN 1 ELSE 0 END) +
        |    MAX(CASE WHEN event_type = 'purchase' AND chain2 IS NOT NULL
        |      AND t - chain2 <= 21600000000 THEN 1 ELSE 0 END) AS INT) AS level
        |FROM s2 GROUP BY user_id
        |ORDER BY user_id NULLS FIRST, l1 NULLS FIRST, l2 NULLS FIRST, l3 NULLS FIRST, level NULLS FIRST""".stripMargin,

    "bounded_balance" ->
      """WITH f AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_type IN ('purchase','signup') THEN CAST(value AS DECIMAL(38,4))
        |         WHEN event_type IN ('click','error') THEN -CAST(value AS DECIMAL(38,4))
        |         ELSE CAST(0 AS DECIMAL(38,4)) END AS flow
        |  FROM events),
        |p AS (
        |  SELECT *, CAST(SUM(flow) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS prefix
        |  FROM f),
        |q AS (
        |  SELECT *, CAST(MIN(prefix) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS runmin
        |  FROM p)
        |SELECT event_id, user_id, ts, CAST(flow AS VARCHAR) AS flow,
        |  CAST(CAST(prefix - LEAST(CAST(0 AS DECIMAL(38,4)), runmin) AS DECIMAL(38,4)) AS VARCHAR) AS balance
        |FROM q
        |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, ts NULLS FIRST, flow NULLS FIRST, balance NULLS FIRST""".stripMargin,

    "purchase_context" ->
      """WITH b AS (
        |  SELECT event_id, user_id, ts, event_type, epoch_us(ts) AS tsu FROM events),
        |c AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    list(ROW(tsu, event_id, event_type))
        |      OVER (PARTITION BY user_id ORDER BY tsu
        |            RANGE BETWEEN 1800000000 PRECEDING AND 1 PRECEDING) AS cs
        |  FROM b),
        |p AS (
        |  -- an empty frame yields NULL from window list(); Spark's
        |  -- collect_list yields [] — coalesce to the empty list
        |  SELECT event_id, user_id, ts, list_sort(COALESCE(cs, [])) AS css
        |  FROM c WHERE event_type = 'purchase')
        |SELECT event_id, user_id, ts,
        |  CAST(len(css) AS INT) AS ctx_n,
        |  -- DuckDB's array_to_string of an EMPTY list is NULL; Spark's
        |  -- array_join is '' — coalesce to the Spark rendering
        |  COALESCE(array_to_string(list_transform(css, x ->
        |    CAST(x[1] AS VARCHAR) || ':' || CAST(x[2] AS VARCHAR) || ':' || x[3]), '|'), '') AS ctx
        |FROM p
        |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, ts NULLS FIRST, ctx_n NULLS FIRST, ctx NULLS FIRST""".stripMargin,

    "path1" ->
      """SELECT user_id,
        |  array_to_string(list(event_type ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)[1:10], '>') AS path,
        |  COUNT(1) AS n_events
        |FROM events GROUP BY user_id
        |ORDER BY user_id NULLS FIRST, path NULLS FIRST, n_events NULLS FIRST""".stripMargin,

    "cohort" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id)
        |SELECT cohort_day, CAST(day - cohort_day AS INT) AS day_offset, COUNT(1) AS n_active
        |FROM act JOIN f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_day NULLS FIRST, day_offset NULLS FIRST, n_active NULLS FIRST""".stripMargin,

    "funnel" ->
      """WITH o AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS uts FROM events),
        |w1 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN uts END) OVER
        |    (PARTITION BY user_id ORDER BY uts ASC, event_id ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
        |  FROM o),
        |w2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL THEN uts END) OVER
        |    (PARTITION BY user_id ORDER BY uts ASC, event_id ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qc
        |  FROM w1),
        |f AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN uts END) AS first_view,
        |    MIN(CASE WHEN event_type = 'click' AND fv IS NOT NULL THEN uts END) AS first_click,
        |    MIN(CASE WHEN event_type = 'purchase' AND qc IS NOT NULL THEN uts END) AS first_purchase
        |  FROM w2 GROUP BY user_id)
        |SELECT user_id, first_view, first_click, first_purchase,
        |  CAST((CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) +
        |       (CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) +
        |       (CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS stage
        |FROM f
        |ORDER BY user_id NULLS FIRST, first_view NULLS FIRST, first_click NULLS FIRST, first_purchase NULLS FIRST, stage NULLS FIRST""".stripMargin,

    "cdc_latest" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts,
        |  event_id AS last_event_id, event_type AS last_type, value AS last_value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |  ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) = 1
        |ORDER BY user_id NULLS FIRST, last_ts NULLS FIRST, last_event_id NULLS FIRST, last_type NULLS FIRST, last_value NULLS FIRST""".stripMargin,

    // DuckDB: time_bucket gives the tumbling window start; ns ts cast to µs
    // first to match Spark's parquet read truncation.
    "evt1" ->
      """SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
        |  time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '10 minutes' AS window_end,
        |  event_type, COUNT(1) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY window_start NULLS FIRST, window_end NULLS FIRST, event_type NULLS FIRST, n_events NULLS FIRST, sum_value NULLS FIRST""".stripMargin,

    // Sliding windows in plain SQL: an event at t is in the 10-min windows
    // starting at bucket5(t) and bucket5(t) - 5min — unnest both starts.
    "evt3" ->
      """WITH starts AS (
        |  SELECT event_type, value,
        |    unnest([time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
        |            time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '5 minutes']) AS window_start
        |  FROM events
        |)
        |SELECT window_start, window_start + INTERVAL '10 minutes' AS window_end,
        |  event_type, COUNT(1) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
        |FROM starts
        |GROUP BY 1, 2, 3
        |ORDER BY window_start NULLS FIRST, window_end NULLS FIRST, event_type NULLS FIRST, n_events NULLS FIRST, sum_value NULLS FIRST""".stripMargin,

    "evt4" ->
      """SELECT l.event_id AS click_id, r.event_id AS purchase_id,
        |  l.user_id AS user_id,
        |  CAST(l.ts AS TIMESTAMP) AS click_ts, CAST(r.ts AS TIMESTAMP) AS purchase_ts
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |  AND l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP)
        |  AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
        |ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST, l.user_id NULLS FIRST, click_ts NULLS FIRST, purchase_ts NULLS FIRST""".stripMargin,

    "evt5" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS uts,
        |    CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN date_diff('microsecond', LAG(CAST(ts AS TIMESTAMP)) OVER w,
        |                        CAST(ts AS TIMESTAMP)) >= 1800000000 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
        |), sessions AS (
        |  SELECT user_id, value, uts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY uts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, MIN(uts) AS session_start,
        |  MAX(uts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(1) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
        |FROM sessions
        |GROUP BY user_id, sid
        |ORDER BY user_id NULLS FIRST, session_start NULLS FIRST, session_end NULLS FIRST, n_events NULLS FIRST, sum_value NULLS FIRST""".stripMargin,

    "evt2" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS uts,
        |    CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
        |         WHEN date_diff('second', LAG(CAST(ts AS TIMESTAMP)) OVER w,
        |                        CAST(ts AS TIMESTAMP)) > 1800 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
        |), sessions AS (
        |  SELECT user_id, event_id, value, uts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY uts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, COUNT(1) AS n_events,
        |  MIN(uts) AS session_start, MAX(uts) AS session_end,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
        |FROM sessions
        |GROUP BY user_id, session_id
        |ORDER BY user_id NULLS FIRST, session_id NULLS FIRST, n_events NULLS FIRST, session_start NULLS FIRST, session_end NULLS FIRST, sum_value NULLS FIRST""".stripMargin
  )

  override val prebuilds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "events_zorder" -> ((s, d) => { zorderEvents(s, d); () }))
}
