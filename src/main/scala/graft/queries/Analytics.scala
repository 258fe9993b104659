package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables._

/** Graph-statistics and order-dominance analytics (SURVEY.md §2.2 GRPH/SKY
  * families) — operators whose NAIVE formulation is quadratic and whose
  * engine formulation is the known scalable rewrite, oracle-certified
  * against the naive form run by DuckDB at test SF.
  */
object Analytics extends QueryModule {

  /** The exact two-sample KS tail shared by `drift_ks` and
    * `vec_norm_drift`: `perV` = (value, ca, cb), one row per distinct
    * value with both halves' counts. GlobalRank's two-pass exclusive
    * prefix recovers each ECDF step, D = max |F_A − F_B|, argmax ties →
    * smallest value (named `atName`), reject = dec4(D) >
    * dec4(1.3581·√((nA+nB)/(nA·nB))). Columns (n_a, n_b, ks_d, atName,
    * reject). */
  private[queries] def ksDrift(perV: DataFrame, atName: String): DataFrame = {
    // NOT pinned: GlobalRank already pins the ranged relation internally,
    // the prefix windows recompute from it for pennies (the relation is
    // |distinct values|-sized), and an outer checkpoint would hide the
    // _gr_ offset columns from the no-unpartitioned-window plan guard.
    val withP = graft.operators.GlobalRank.attach(perV,
      Seq(col("value").asc), None, Seq("ca" -> "pa", "cb" -> "pb"))
    val tot = withP.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    // empty-half guard (drift_psi's NULLIF rule): a corpus with every row
    // in one half makes the other ECDF x/0 = Infinity, and the ANSI
    // decimal render of the resulting D throws. NULL out the undefined
    // ECDF instead → diff NULL → max NULL → empty result, identically in
    // both engines.
    def nz(c: Column): Column = when(c === 0L, lit(null)).otherwise(c)
    val diff = abs(
      (col("pa") + col("ca")).cast("double") / nz(col("na")).cast("double") -
      (col("pb") + col("cb")).cast("double") / nz(col("nb")).cast("double"))
    val scored = withP.crossJoin(broadcast(tot)).withColumn("diff", diff)
    val dmax = scored.agg(max(col("diff")).as("dmax"))
    // na·nb computed in DOUBLE, not int64: at 100 TB half-sizes (~1e12
    // rows) the int64 product overflows — Spark wraps silently to a
    // wrong/negative threshold while DuckDB raises, so the engines
    // diverge (cls_eval/cohen_kappa's count-product rule applied here).
    val thr = lit(1.3581) * sqrt(
      (col("na") + col("nb")).cast("double") /
        (col("na").cast("double") * col("nb").cast("double")))
    scored.crossJoin(broadcast(dmax))
      .filter(col("diff") === col("dmax"))
      .groupBy(col("na"), col("nb"), col("dmax"))
      .agg(min(col("value")).as("atv"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        dec4S(col("dmax")).as("ks_d"),
        dec4S(col("atv")).as(atName),
        (dec4(col("dmax")) > dec4(thr)).as("reject"))
  }

  val all: Map[String, Q] = Map(
    // ---- GRPH-2: triangle census of the part co-purchase graph (nodes =
    //      parts, edge when two parts share an order) — the local-density
    //      statistic behind community detection, recommendation quality,
    //      and bot-ring detection. The scalable shape is the DEGREE-
    //      ORIENTATION wedge join [Schank-Wagner / Cohen's MapReduce
    //      triangle counting]: orient every edge from its (degree, id)-
    //      smaller endpoint to the larger, enumerate wedges as pairs of
    //      out-edges of a common source, and close each wedge against the
    //      oriented edge list. Every triangle is counted EXACTLY once (its
    //      rank-minimal vertex owns it), and out-degree is bounded by
    //      O(√E) on any graph — so the wedge relation is Σd_out² ≲ E^1.5
    //      instead of the Σd² ≈ hub-degree² blowup of the unoriented join
    //      (a celebrity node with d=10⁶ contributes 10¹² unoriented wedges
    //      but only its √E out-wedges here). Shuffles: edge distinct, the
    //      two equi-joins; degree table is node-sized → broadcast. Output
    //      = the 1-row census (nodes, edges, Σ C(d,2) wedges, triangles);
    //      n_wedges·3/n_triangles is the global clustering coefficient. ----
    "graph_triangles" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      // Edge build WITHOUT a self-join: collect each order's sorted
      // distinct part set (one map-side-combined shuffle, group size
      // bounded by basket size — 13 here, never a hub) and explode the
      // a<b pairs from the array. Measured 2.6 s vs 6.4 s for the
      // op⋈op-on-orderkey + distinct formulation at sf0.1 — the join
      // pays two extra 600k-row exchanges and an SMJ sort for pairs the
      // array already has adjacent. `pinned`: e feeds deg, the orient
      // join, and the n_edges census.
      val e = li.groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"))
        .select(col("a"),
          explode(slice(col("ps"), col("i") + 2, size(col("ps")))).as("b"))
        .distinct()
        .pinned
      val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .pinned // node-sized; read by both orient broadcasts + 2 census aggs
      // (degree, id) rank packed into ONE long (deg·2³² + id): the wedge
      // filter below evaluates this comparison ~2·Σ C(d_out,2) times (80M+
      // at sf0.1), and a primitive long compare beats a struct comparator
      // in that hot loop. Valid while ids and degrees stay below 2³¹ —
      // i.e. any graph under ~2 B nodes; beyond that, fall back to a
      // (deg, id) struct rank (same algebra, same plan shape).
      def rk(dg: Column, v: Column): Column = dg * lit(4294967296L) + v
      val or = e.join(broadcast(deg).as("da"), col("a") === col("da.v"))
        .join(broadcast(deg).as("db"), col("b") === col("db.v"))
        .select(
          when(rk(col("da.deg"), col("a")) < rk(col("db.deg"), col("b")),
            struct(col("a").as("src"), col("b").as("dst"),
              rk(col("db.deg"), col("b")).as("rdst")))
          .otherwise(
            struct(col("b").as("src"), col("a").as("dst"),
              rk(col("da.deg"), col("a")).as("rdst"))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.rdst").as("rdst"))
        // Explicit-width repartition BY SRC before pinning, for the fzj1
        // lesson (SURVEY §4.4.7): the edge list is tiny in BYTES (~30 MB)
        // but the wedge join FANS OUT 34× — left to AQE, the self-join's
        // exchange coalesces to a few input-byte-sized partitions and the
        // 41M-row wedge generation runs near-serial. Hash-partitioning
        // both (identical) sides by the join key here also makes the
        // wedge self-join exchange-free at full width.
        .transform(spread(_, "src"))
        .pinned // feeds both wedge sides + the closure broadcast
      val wedges = or.as("e1").join(or.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.rdst") < col("e2.rdst"))
        .select((col("e1.dst") * lit(4294967296L) + col("e2.dst")).as("vw"))
      // Closing edge is oriented v→w because rank(v) < rank(w). The wedge
      // stream is the BIG relation (Σ C(d_out,2): 41M rows at sf0.1 on
      // 1.2M edges) — broadcasting the EDGE LIST turns the closure into a
      // map-side hash probe, so wedges pipeline from their own join
      // straight into the count without ever shuffling; the (v,w) pair is
      // packed into one long so the 41M probes hit a single-long hash key
      // (measured 4.0→1.5 s vs the two-column key). When the edge list
      // outgrows broadcast (≫10⁷ edges), drop the hint: the closure
      // degrades to a shuffle on vw — still key-proportional — or the
      // edge set ships as DCN-2's bloom probe with an exact residual join.
      val tri = wedges.join(
          broadcast(or.select((col("src") * lit(4294967296L) + col("dst")).as("vw"))),
          "vw")
        .agg(count(lit(1)).as("n_triangles"))
      val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
      val nEdges = e.agg(count(lit(1)).as("n_edges"))
      val nWedges = deg.agg(coalesce(sum(call_function("div",
        col("deg") * (col("deg") - 1), lit(2L))), lit(0L)).as("n_wedges"))
      ordered(nNodes.crossJoin(nEdges).crossJoin(nWedges).crossJoin(tri))
    }),

    // ---- ATTR-1: last-touch conversion attribution — every purchase
    //      attributed to the user's most recent 'click' within a 1-day
    //      lookback, the base case of the attribution family every
    //      marketing warehouse runs (first-touch/linear reuse the same
    //      machinery with a different pick). One running last() window
    //      per user (ignoreNulls over the click-only projection) — the
    //      same single-sort shape as SCD2, no self-join, no as-of probe
    //      table (JOIN-10's variant); the lookback is a plain filter on
    //      the carried click timestamp. µs-exact arithmetic. ----
    "attr_last" -> ((s, d) => {
      val e = load(s, d, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val clickId = when(col("event_type") === "click", col("event_id"))
      val clickTs = when(col("event_type") === "click", unix_micros(col("ts")))
      val horizon = 86400L * 1000000L
      val annotated = e
        .withColumn("last_click_id", last(clickId, ignoreNulls = true).over(w))
        .withColumn("last_click_tsu", last(clickTs, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("attributed", col("last_click_tsu").isNotNull &&
          unix_micros(col("ts")) - col("last_click_tsu") <= horizon)
      ordered(annotated.select(col("event_id"), col("user_id"), col("ts"),
        when(col("attributed"), col("last_click_id")).as("click_id"),
        col("attributed")))
    }),

    // ---- RFM-1: recency/frequency/monetary segmentation — the classic
    //      customer-value grid: per user, days since last purchase,
    //      purchase count, and exact-decimal purchase value, each scored
    //      into quintiles (recency INVERTED: most recent = 5) and packed
    //      into the familiar 3-digit segment code. Quintile cuts use
    //      FE-1's percentile mechanism over the USER-sized relation (not
    //      the event stream), all three dims in ONE aggregate row; the
    //      cuts attach is a 1-row broadcast. Shapes: one purchase-
    //      filtered scan → user agg (the only data-sized shuffle), one
    //      1-row max-ts attach, one 1-row cuts attach. ----
    "rfm" -> ((s, d) => {
      val e = load(s, d, "events")
      val pu = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(
          max(unix_micros(col("ts"))).as("last_pu"),
          count(lit(1)).as("f"),
          dsum(col("value")).as("m"))
      val glob = pu.agg(max(col("last_pu")).as("anchor"))
      val usr = pu.crossJoin(broadcast(glob))
        .withColumn("r_days", call_function("div",
          col("anchor") - col("last_pu"), lit(86400L * 1000000L)))
        .select(col("user_id"), col("r_days"), col("f"),
          col("m"), col("m").cast("double").as("m_d"))
      val qs = array((1 to 4).map(i => lit(i / 5.0)): _*)
      val cuts = usr.agg(
        percentile(col("r_days").cast("double"), qs).as("rc"),
        percentile(col("f").cast("double"), qs).as("fc"),
        percentile(col("m_d"), qs).as("mc"))
      def score(v: Column, cutsCol: String): Column =
        (1 to 4).map(i =>
          when(v > dec4(element_at(col(cutsCol), i)).cast("double"), 1)
            .otherwise(0)).reduce(_ + _) + 1
      ordered(usr.crossJoin(broadcast(cuts))
        .withColumn("r_score", lit(6) - score(col("r_days").cast("double"), "rc"))
        .withColumn("f_score", score(col("f").cast("double"), "fc"))
        .withColumn("m_score", score(col("m_d"), "mc"))
        .select(col("user_id"), col("r_days"), col("f"), decS(col("m")).as("m"),
          col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .as("segment")))
    }),

    // ---- TS-2: seasonal profile — per hour-of-day mean of event value
    //      with a seasonal index (hour mean / global mean), the
    //      decomposition step behind seasonality-aware anomaly detection
    //      and load forecasting (ANOM-1 on deseasonalized residuals is
    //      the standard composition). Means finished from exact decimal
    //      sums (order-free), index in the deterministic double subset.
    //      Shape: ONE map-side-combined 24-group aggregate over the scan
    //      + a 1-row global-mean broadcast attach — profiles compose
    //      incrementally across ingest batches like DRIFT-1's bins. ----
    "seasonal_profile" -> ((s, d) => {
      val e = load(s, d, "events")
      val byHour = e.groupBy(hour(col("ts")).as("hh")).agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).as("sv"))
      // global mean from the 24-row profile, NOT a second table scan: the
      // hours partition all rows and the per-hour sums are exact decimals,
      // so Σsv/Σn is the identical double; the twice-referenced byHour
      // subtree shares its shuffle via ReusedExchange
      val g = byHour.agg((sum(col("sv")).cast("double") /
        sum(col("n")).cast("double")).as("gmean"))
      val hmean = col("sv").cast("double") / col("n").cast("double")
      ordered(byHour.crossJoin(broadcast(g))
        .select(col("hh"), col("n"),
          dec4S(hmean).as("mean_value"),
          dec4S(hmean / col("gmean")).as("seasonal_idx")))
    }),

    // ---- TS-5: seasonal-residual anomaly gate (`anomaly_seasonal`) —
    //      the composition TS-2's scaladoc declares ("ANOM-1 on
    //      deseasonalized residuals is the standard composition"), made a
    //      first-class op: a raw MAD gate on a strongly seasonal measure
    //      flags every quiet-hour row and misses daytime spikes, so first
    //      SUBTRACT the expected (type, hour-of-day) level, THEN run the
    //      robust median/MAD gate per type on what remains. Residual =
    //      value − seasonal mean (mean finished from the exact decimal
    //      per-cell sum, so the subtracted double is engine-identical);
    //      gate = ANOM-1's modified z: |resid − med| > 3·1.4826·MAD with
    //      both compare sides dec4-rounded (§5.3 — no engine-dependent
    //      double ties at the threshold). Output = per-type census
    //      (n, med/mad of residuals, out/low/high counts) — ANOM-1's
    //      exact columns, one decomposition deeper. Shape: ONE
    //      (|types|×24)-group map-side-combined aggregate builds the
    //      profile (broadcast back — the profile is domain-sized, never
    //      data-sized), residual relation pinned once (read by the med,
    //      MAD, and census passes), per-type exact percentiles switch to
    //      approx_percentile at 100 TB per-group volume (AGG-11's
    //      declared trade, same as ANOM-1's). ----
    "anomaly_seasonal" -> ((s, d) => {
      val e = load(s, d, "events").select(col("event_type").as("typ"),
        hour(col("ts")).as("hh"), col("value"))
      val prof = e.groupBy(col("typ"), col("hh")).agg(
          count(lit(1)).as("np"), sum(dec(col("value"))).as("sv"))
        .select(col("typ"), col("hh"),
          (col("sv").cast("double") / col("np").cast("double")).as("smean"))
      val r = e.join(broadcast(prof), Seq("typ", "hh"))
        .select(col("typ"), (col("value") - col("smean")).as("resid"))
        .pinned // read by the med, mad, and census passes
      val med = r.groupBy(col("typ")).agg(expr("percentile(resid, 0.5)").as("med"))
      val mad = r.join(broadcast(med), Seq("typ"))
        .withColumn("adev", abs(col("resid") - col("med")))
        .groupBy(col("typ"))
        .agg(min(col("med")).as("med"), expr("percentile(adev, 0.5)").as("mad"))
      val out = (dec4(abs(col("resid") - col("med"))) >
        dec4(lit(4.4478) * col("mad")))
      ordered(r.join(broadcast(mad), Seq("typ"))
        .groupBy(col("typ"))
        .agg(count(lit(1)).as("n"),
          dec4S(min(col("med"))).as("med_resid"),
          dec4S(min(col("mad"))).as("mad_resid"),
          count(when(out, 1)).as("n_out"),
          count(when(out && col("resid") < col("med"), 1)).as("n_low"),
          count(when(out && col("resid") > col("med"), 1)).as("n_high")))
    }),

    // ---- SPL-1: LEAKAGE-SAFE train/val/test assignment — the fix for
    //      the failure mode DDP-LEAK (`split_leakage`) audits: a per-doc
    //      hash split (SMP-1) puts two copies of the same document on
    //      both sides of the train/test wall. Here the split key is the
    //      DUP-GROUP REPRESENTATIVE (min doc_id over the exact-dup group,
    //      md5-keyed like DDP-1), so every copy co-travels by
    //      construction; near-dup-safe variants swap the group key for
    //      DDP-CLUSTER's label — same shape. Bucket = exact integer LCG
    //      on the rep (pre-reduced mod 2³¹−1 so the multiply never
    //      overflows int64 for ANY id — ANSI mode throws on overflow),
    //      800/100/100 per mille. Shape: ONE hash-keyed window min (the
    //      only data-sized shuffle; at 100 TB keyed on the md5, never the
    //      raw text) + a codegen'd projection; co-travel spec-pinned. ----
    "split_assign" -> ((s, d) => {
      val doc = load(s, d, "documents")
      val w = Window.partitionBy(col("h"))
      val rep = doc.withColumn("h", md5(col("text")))
        .withColumn("rep", min(col("doc_id")).over(w))
      val bucket = pmod(
        pmod(col("rep"), lit(2147483647L)) * lit(2654435761L) + lit(123456789L),
        lit(1000L))
      ordered(rep.select(col("doc_id"), col("rep"), bucket.as("bucket"),
        when(bucket < 800, "train").when(bucket < 900, "val")
          .otherwise("test").as("split")))
    }),

    // ---- SKY-1: Pareto frontier (skyline) of part on (minimize
    //      p_retailprice, maximize p_size) — multi-objective shortlist
    //      queries (cheapest-but-biggest) that SQL has no native operator
    //      for. Naive is the O(n²) NOT-EXISTS anti-join (the oracle, and
    //      exactly what CartesianGuard exists to keep out of the engine).
    //      Scalable rewrite for 2-D: a dominator always sorts before its
    //      victim under (price asc, size desc), so collapse to PRICE
    //      GROUPS (groupBy price → max size: the only full-data shuffle,
    //      map-side combined), take a prefix-max of group max-size over
    //      strictly-lower prices on that |distinct prices|-sized relation,
    //      and keep a row iff no lower-priced group reaches its size AND
    //      nothing in its own price group strictly exceeds it (equal
    //      price+size duplicates all survive — no strict dominator).
    //      The single-partition window runs over DISTINCT PRICES, not
    //      rows, and the price domain bounds those. Frontier is tiny by
    //      nature → broadcast joined back to the fact. ----
    // ---- TS-EWMA: per-user exponentially-weighted moving average of
    //      event value (the smoothing baseline behind alerting and trend
    //      lines), α=0.3, ADJUSTED form (pandas ewm adjust=True):
    //      s_i = Σₖ wᵏ·v_{i-k} / Σₖ wᵏ, w=0.7, truncated at K=18 lags.
    //      The truncation is what makes the recurrence DISTRIBUTABLE and
    //      cross-engine exact: the dropped tail is < w^19 ≈ 0.11% of the
    //      mass, and the kept weights are EXACT DECIMALS (0.7ᵏ =
    //      7ᵏ/10ᵏ, scale 18) — no pow(), whose libm results the §5.3
    //      float discipline bans from hashed outputs. The untruncated
    //      sequential form needs per-user ordered state (the streaming
    //      twin STR-ST's job); a window-frame product has no SQL
    //      expression; and w^(-j) prefix tricks overflow at j≈700.
    //      Shape: each row EXPLODES its own 19 (k, rn−k) probes and
    //      equi-joins back to the per-user row-number relation — bounded
    //      19× fan-out, NEVER the per-user² blowup of a user-keyed self
    //      join with a band filter (667 events/user here → 440k pairs per
    //      user that the probe form never materializes). One window sort
    //      (rn), one 19× equi-join, one group-back: all key-proportional. ----
    "ewma" -> ((s, d) => {
      import s.implicits._
      val K = ewmaWeightTable.last._1 // truncation depth = the weight table's
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val r = load(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        // r15: explicit-width repartition before the per-user window (the
        // §4.4.3 trap): the window exchange coalesced to 2 of 64
        // partitions on input bytes, so the row-number sort, the pinned
        // blocks BEHIND it, and therefore the ×19 probe explode + join
        // all ran ≤3-wide (measured 3.4 s CPU on a 2-task stage). The
        // window reuses this partitioning — no second exchange.
        .transform(spread(_, "user_id"))
        .withColumn("rn", row_number().over(w))
        .pinned // feeds both the probe side and the value side
      // 0.7^k as an EXACT scale-18 decimal literal table (7^k/10^k) —
      // string-parsed, never pow()'d. The value factor is (10,4) so the
      // product is DECIMAL(30,22): exact in Spark AND DuckDB (a (38,4)
      // factor would trip Spark's precision-cap scale loss).
      val wdt = org.apache.spark.sql.types.DecimalType(19, 18)
      val weights = ewmaWeightTable
        .toDF("k", "w_s").select(col("k"), col("w_s").cast(wdt).as("w"))
      val probes = r.select(col("user_id"), col("event_id"), col("ts"), col("rn"),
          explode(sequence(lit(0), lit(K))).as("k"))
        .filter(col("rn") - col("k") >= 1)
        .join(broadcast(weights), "k")
        .withColumn("rnj", col("rn") - col("k"))
      val j = probes.join(r.select(col("user_id").as("u2"), col("rn").as("rn2"),
          col("value").as("v2")),
        col("user_id") === col("u2") && col("rnj") === col("rn2"))
      ordered(j.groupBy(col("user_id"), col("event_id"), col("ts"))
        .agg(sum(col("w") *
            col("v2").cast(org.apache.spark.sql.types.DecimalType(10, 4))).as("num"),
          sum(col("w")).as("den"))
        .select(col("user_id"), col("event_id"), col("ts"),
          dec4S(col("num").cast("double") / col("den").cast("double")).as("ewma")))
    }),

    // ---- TS-3: CUSUM changepoint detection (`cusum_change`) — Page's
    //      classic level-shift locator (Page, Biometrika 1954) over the
    //      daily-revenue series: the changepoint estimate is
    //      argmax_t |S_t|, S_t = Σ_{i≤t}(x_i − x̄). The determinism move:
    //      S_t scaled by n is n·S_t = n·prefix_t − t·total — EVERY term
    //      an exact decimal/integer product (no mean, no division, no
    //      float accumulation), and scaling by n>0 preserves the argmax,
    //      so the located day is bit-reproducible in any engine; ties →
    //      earliest day. Decimal widths follow vec_pq's precision-cap
    //      lesson: x and its prefix sums are held at (18,4)/(19,4) so the
    //      ×int32 products stay under precision 38 EXACT in both engines
    //      (a (38,4) operand would trip Spark's scale-losing cap). Shape:
    //      one map-side-combined day-grain aggregate collapses any corpus
    //      to a \|days\|-row series; the running-sum window, argmax, and
    //      before/after means all live on that tiny relation — the
    //      100 TB cost is the scan, forever. ----
    "cusum_change" -> ((s, d) => {
      val d18 = DecimalType(18, 4)
      val o = load(s, d, "orders")
      val daily = o.groupBy(
          date_trunc("day", col("o_orderdate")).cast("date").as("day"))
        .agg(dsum(col("o_totalprice")).cast(d18).as("x"))
      val wOrd = Window.orderBy(col("day").asc)
      val wAll = Window.orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val series = daily
        .withColumn("t", row_number().over(wOrd))
        .withColumn("prefix", sum(col("x")).over(wOrd).cast(d18))
        .withColumn("n", count(lit(1)).over(wAll).cast("int"))
        .withColumn("total", sum(col("x")).over(wAll).cast(d18))
      val sPrime = col("n") * col("prefix") - col("t") * col("total")
      val ranked = series.withColumn("s_abs", abs(sPrime))
        .withColumn("rk",
          row_number().over(Window.orderBy(col("s_abs").desc, col("day").asc)))
      ordered(ranked.filter(col("rk") === 1)
        .select(col("day").as("cp_day"), col("t").as("t"), col("n").as("n_days"),
          decS(col("s_abs").cast(dt)).as("cusum_stat"),
          dec4S(col("prefix").cast("double") / col("t").cast("double"))
            .as("mean_before"),
          dec4S((col("total") - col("prefix")).cast("double") /
            when(col("n") === col("t"), lit(null))
              .otherwise((col("n") - col("t")).cast("double"))).as("mean_after")))
    }),

    // ---- DRIFT-1: distribution-drift audit of event value, first half of
    //      the time range vs second half — the data-drift gate every
    //      production scoring pipeline runs before trusting a model or a
    //      new ingest batch. 10 fixed-width bins over the GLOBAL [min,max]
    //      (bin edges must come from one reference frame, or the two
    //      halves aren't comparable); drift statistic = χ² (triangular)
    //      divergence Σ (p−q)²/(p+q) — deliberately NOT the textbook PSI:
    //      PSI's ln(p/q) factor is libm-dependent (banned from hashed
    //      outputs by §5.3) and χ² is PSI's second-order approximation
    //      with the same alarm behavior; empty-vs-empty bins contribute 0
    //      by the p+q=0 guard. Output = the full 10-bin spine (absent
    //      bins surface with zeros) + per-bin term + the total on every
    //      row (a 10-row window sum — free). Shape: two 1-row scalar
    //      attaches (global min/max/mid-ts) + ONE map-side-combined
    //      10-group aggregate over the scan — the cheapest possible drift
    //      audit at 100 TB, and the per-bin counts compose incrementally
    //      across ingest batches. ----
    "drift_psi" -> ((s, d) => {
      import s.implicits._
      val e = load(s, d, "events")
      val bounds = e.agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        call_function("div",
          unix_micros(min(col("ts"))) + unix_micros(max(col("ts"))), lit(2L)).as("mid"))
      // width-0 guard: a constant-value column otherwise yields NaN bins
      // (0/0) and an ANSI cast error — with width 1 every row lands in
      // bin 0 and the audit degenerates gracefully to "no drift"
      val width = when(col("vmax") === col("vmin"), lit(1.0))
        .otherwise((col("vmax") - col("vmin")) / lit(10.0))
      val binned = e.crossJoin(broadcast(bounds))
        .withColumn("bin", least(floor((col("value") - col("vmin")) / width), lit(9.0))
          .cast("int"))
        .withColumn("half", when(unix_micros(col("ts")) < col("mid"), 0).otherwise(1))
      val counts = binned.groupBy(col("bin")).agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
      val spine = (0 to 9).toDF("bin")
      val tot = counts.agg(sum(col("n_a")).cast("double").as("ta"),
        sum(col("n_b")).cast("double").as("tb"))
      // empty-half guard: a corpus whose whole time span is <= 1 µs puts
      // every row in one half, the other total is 0.0, and ANSI double
      // division throws — NULLIF degrades that half's frequencies (and
      // the affected terms) to NULL instead
      def nz(c: Column): Column = when(c === 0.0, lit(null)).otherwise(c)
      val p = col("n_a").cast("double") / nz(col("ta"))
      val q = col("n_b").cast("double") / nz(col("tb"))
      val term = when(p + q === 0.0, lit(0.0))
        .otherwise((p - q) * (p - q) / (p + q))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      ordered(spine.join(counts, Seq("bin"), "left")
        .na.fill(0L, Seq("n_a", "n_b"))
        .crossJoin(broadcast(tot))
        .select(col("bin"), col("n_a"), col("n_b"),
          dec4S(p).as("p_a"), dec4S(q).as("p_b"), dec4(term).as("term_d"))
        .withColumn("chi2", cstr(sum(col("term_d")).over(wAll).cast(dt)))
        .withColumn("term", cstr(col("term_d"))).drop("term_d"))
    }),

    // ---- DRIFT-2: exact two-sample Kolmogorov–Smirnov drift (`drift_ks`)
    //      — DRIFT-1's unbinned sibling: PSI needs a bin design and goes
    //      blind to within-bin shifts; KS is the distribution-free test on
    //      the raw ECDFs, D = max_x |F_A(x) − F_B(x)| over the same
    //      temporal halves (training-vs-serving drift's standard
    //      significance readout). Exact and DISTRIBUTED: collapse to one
    //      row per distinct value carrying both halves' counts, then
    //      GlobalRank's two-pass exclusive prefix under value order
    //      recovers each ECDF step with NO single-task sort (the r7
    //      two-pass-rank machinery's third consumer, after gini and
    //      mann_whitney) — at 100 TB the value-collapse is the only
    //      data-sized shuffle and the ranked relation is
    //      |distinct values|-sized. Argmax ties → smallest value (same
    //      doubles both engines, so the tie set is engine-identical);
    //      reject = dec4(D) > dec4(c(α)·√((nA+nB)/(nA·nB))) at α=0.05
    //      (c = 1.3581, Smirnov's asymptote), dec4-both-sides (§5.3). ----
    "drift_ks" -> ((s, d) => {
      val e = load(s, d, "events")
      val mid = e.agg(call_function("div",
        unix_micros(min(col("ts"))) + unix_micros(max(col("ts"))), lit(2L)).as("mid"))
      val perV = e.crossJoin(broadcast(mid))
        .select(col("value"),
          when(unix_micros(col("ts")) < col("mid"), 1L).otherwise(0L).as("ia"))
        .groupBy(col("value"))
        .agg(sum(col("ia")).as("ca"), sum(lit(1L) - col("ia")).as("cb"))
      ordered(ksDrift(perV, "at_value"))
    }),

    // ---- DRIFT-3: χ² homogeneity drift test (`drift_chi2`) — the
    //      CATEGORICAL leg of the drift family (PSI bins a numeric
    //      measure, KS reads numeric ECDFs; neither speaks categorical):
    //      did the event-TYPE mix shift between the temporal halves?
    //      Pearson's χ² on the 2×k contingency table, expected counts
    //      e = rowTot·halfTot/N under homogeneity, χ² = Σ (o−e)²/e,
    //      df = k−1, reject at the α=0.05 critical value from the SHARED
    //      literal table (one source feeds both the query and the oracle
    //      — the ewma weight-table discipline; df > 120 → crit NULL →
    //      reject NULL, declared). Exactness: cells are exact int64 from
    //      ONE map-side-combined aggregate; each e and term is pure IEEE
    //      double; terms dec4-quantized before the order-free decimal
    //      window sum (drift_psi's rule); empty half → NULLIF degrades
    //      e/term/χ²/reject to NULL (the family's guard). Scale: the
    //      corpus collapses to k≈|types| cells in one aggregate — the
    //      cheapest categorical drift audit at 100 TB, and the cells
    //      compose incrementally per ingest batch. Output = the full
    //      per-type table (observed, expected, term) + χ²/df/reject on
    //      every row (a k-row window — free). ----
    "drift_chi2" -> ((s, d) => {
      import s.implicits._
      val e = load(s, d, "events")
      val mid = e.agg(call_function("div",
        unix_micros(min(col("ts"))) + unix_micros(max(col("ts"))), lit(2L)).as("mid"))
      val cells = e.crossJoin(broadcast(mid))
        .select(col("event_type"),
          when(unix_micros(col("ts")) < col("mid"), 1L).otherwise(0L).as("ia"))
        .groupBy(col("event_type"))
        .agg(sum(col("ia")).as("n_a"), sum(lit(1L) - col("ia")).as("n_b"))
      val tot = cells.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"),
        count(lit(1)).as("k"))
      def nz(c: Column): Column = when(c === 0L, lit(null)).otherwise(c)
      val rt = (col("n_a") + col("n_b")).cast("double")
      val nn = (col("ta") + col("tb")).cast("double")
      val ea = rt * nz(col("ta")).cast("double") / nn
      val eb = rt * nz(col("tb")).cast("double") / nn
      val da = col("n_a").cast("double") - ea
      val db = col("n_b").cast("double") - eb
      val term = da * da / ea + db * db / eb
      val wAll = Window.partitionBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val critDf = Stats.chi2Crit05.toDF("dfree", "crits")
        .select(col("dfree").cast("long").as("df"),
          col("crits").cast("double").as("crit"))
      ordered(cells.crossJoin(broadcast(tot))
        .withColumn("term_d", dec4(term))
        .withColumn("chi2d", sum(col("term_d")).over(wAll).cast(dt))
        .withColumn("df", col("k") - 1L)
        .join(broadcast(critDf), Seq("df"), "left")
        .select(col("event_type"), col("n_a"), col("n_b"),
          dec4S(ea).as("exp_a"), dec4S(eb).as("exp_b"),
          cstr(col("term_d")).as("term"),
          cstr(col("chi2d")).as("chi2"), col("df"),
          (col("chi2d").cast("double") > col("crit")).as("reject")))
    }),

    "skyline" -> ((s, d) => {
      val p = load(s, d, "part")
      val g = p.groupBy(col("p_retailprice").as("price"))
        .agg(max(col("p_size")).as("gmax"))
      // The prefix max runs over the GROUPED (distinct-price) relation,
      // which the price domain bounds: 1,000 rows at every testdata scale,
      // and TPC-H's retail-price formula keeps prices in [900.00, 2099.00],
      // so at most ~120k cent values at any scale factor. The
      // single-partition window therefore never sees a fact-sized input.
      val g2 = g.withColumn("prevmax", max(col("gmax")).over(
        Window.orderBy(col("price")).rowsBetween(Window.unboundedPreceding, -1)))
      ordered(p.join(broadcast(g2), p("p_retailprice") === g2("price"))
        .filter((col("prevmax").isNull || col("prevmax") < col("p_size")) &&
          col("gmax") === col("p_size"))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size")))
    }),

    // ---- TS-4: autocorrelation function (`acf`) — the seasonality
    //      detector that reads a series' memory directly: per event_type,
    //      the hourly event-count series' correlation with its own k-step
    //      shift, k=1..6. Declared semantics: lag-pair Pearson (the
    //      correlation of (x_t, x_{t+k}) over the overlap window — the
    //      cross-engine-exact sibling of the textbook ACF, which divides
    //      by the full-series variance; both expose the same structure:
    //      r₁ high = smooth/trending, r_k peaks = period-k seasonality).
    //      All six lag sums are EXACT int64 (counts and count-products —
    //      no mean subtraction until the final double finish, STAT-1's
    //      moment discipline on integers). Shape: ONE map-side-combined
    //      (type, hour) count collapses any corpus to a date-range-bounded
    //      series; six `lead`s share ONE window pass per type (single
    //      Window operator); the lag-pair aggregate runs on 6×|series|
    //      rows. The 100 TB cost is the scan, forever — same envelope as
    //      TS-3. The lag is POSITIONAL over the observed hour sequence
    //      (lead skips empty hours — gaps compress rather than break
    //      pairs; this corpus has per-type hour gaps, proven by the
    //      calendar-join recount in AnalyticsSpec), and a spine-join
    //      densification (GAP-1's op) composes in front when a sparse
    //      series needs calendar-true lags. ----
    "acf" -> ((s, d) => {
      val maxLag = 6
      val e = load(s, d, "events")
      val hourly = e.groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr").asc)
      val withLeads = hourly.select(Seq(col("event_type"), col("cnt")) ++
        (1 to maxLag).map(k => lead(col("cnt"), k).over(w).as(s"y$k")): _*)
      val pairs = withLeads.select(col("event_type"), col("cnt").as("x"),
          explode(array((1 to maxLag).map(k =>
            struct(lit(k).as("lag"), col(s"y$k").as("y"))): _*)).as("p"))
        .select(col("event_type"), col("p.lag").as("lag"),
          col("x"), col("p.y").as("y"))
        .filter(col("y").isNotNull)
      val mo = pairs.groupBy(col("event_type"), col("lag")).agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val n = col("n_pairs").cast("double")
      def dd(c: Column): Column = c.cast("double")
      // constant-overlap guard: a flat series zeroes a variance leg and
      // ANSI double division throws — correlation is undefined there, NULL
      val den = sqrt((n * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))) *
        (n * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))))
      val r = (n * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) /
        when(den === 0.0, lit(null)).otherwise(den)
      ordered(mo.select(col("event_type"), col("lag"), col("n_pairs"),
        dec4S(r).as("acf")))
    }),

    // ---- TS-6: cross-correlation function (`ccf`) — TS-4's two-series
    //      sibling, the lead/lag detector between signals: does click
    //      volume LEAD purchase volume, and by how many hours? The joint
    //      hourly series (hr, clicks, purchases) zero-fills each type's
    //      count on hours the OTHER type observed (one map-side-combined
    //      conditional-sum collapse — no per-type pivot join); lags −3..+3
    //      are positional leads over the shared hour order, negative lags
    //      by symmetry corr(c_t, p_{t−k}) = corr(c_{t+k}, p_t) so SIX
    //      leads share ONE window pass. All moment sums are exact int64
    //      (TS-4's discipline: no mean subtraction until the final double
    //      finish); zero-variance overlap → NULL. The global hour window
    //      is over the date-range-BOUNDED series relation (the corpus
    //      collapses to |hours| rows first — at 100 TB that collapse is
    //      the only data-sized shuffle, the window input stays calendar-
    //      sized; TS-4's cost envelope). ----
    "ccf" -> ((s, d) => {
      val maxLag = 3
      val e = load(s, d, "events")
      val hourly = e.filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      val w = Window.partitionBy(lit(0)).orderBy(col("hr").asc)
      val withLeads = hourly.select(Seq(col("c"), col("p")) ++
        (1 to maxLag).flatMap(k => Seq(
          lead(col("c"), k).over(w).as(s"c$k"),
          lead(col("p"), k).over(w).as(s"p$k"))): _*)
      val pairCols = (struct(lit(0).as("lag"), col("c").as("x"), col("p").as("y")) +:
        (1 to maxLag).flatMap(k => Seq(
          struct(lit(k).as("lag"), col("c").as("x"), col(s"p$k").as("y")),
          struct(lit(-k).as("lag"), col(s"c$k").as("x"), col("p").as("y")))))
      val pairs = withLeads
        .select(explode(array(pairCols: _*)).as("pr"))
        .select(col("pr.lag").as("lag"), col("pr.x").as("x"), col("pr.y").as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
      val mo = pairs.groupBy(col("lag")).agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val n = col("n_pairs").cast("double")
      def dd(c: Column): Column = c.cast("double")
      val den = sqrt((n * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))) *
        (n * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))))
      val r = (n * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) /
        when(den === 0.0, lit(null)).otherwise(den)
      ordered(mo.select(col("lag"), col("n_pairs"), dec4S(r).as("ccf")))
    }),

    // ---- STAT-12: Kendall rank correlation (`corr_kendall`) — the
    //      RANK-based monotone-association reading of TS-6's question
    //      (does click volume move with purchase volume?): τ-b over the
    //      joint hourly series, robust to the outliers and nonlinearity
    //      that bend Pearson (STAT-1/TS-6) — a single burst hour can
    //      manufacture Pearson correlation; τ counts ORDER agreements.
    //      Exact: concordant/discordant pairs classified by two sign
    //      comparisons (never the (Δc·Δp) product — int64-overflow-proof
    //      at any per-hour volume, the cls_eval discipline), tie terms
    //      n1/n2 from per-value count collapses, τ_b = (C−D)/√((n₀−n1)
    //      (n₀−n2)) with every factor a double (zero denominator → NULL).
    //      Scale: the corpus collapses to the |hours|-sized series first
    //      (TS-4/TS-6's envelope — the only data-sized work is that scan);
    //      the pair join is CALENDAR-bounded (|hours|² by construction,
    //      theil_sen's bounded self-pair precedent), never data-sized. An
    //      O(n log n) inversion count only pays once the series itself is
    //      data-proportional — at which point the declared move is
    //      GlobalRank ranks + a merge-count, same two-pass family. ----
    "corr_kendall" -> ((s, d) => {
      val e = load(s, d, "events")
      val hourly = e.filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
        .pinned
      val a = hourly.select(col("hr").as("h1"), col("c").as("c1"), col("p").as("p1"))
      val b = hourly.select(col("hr").as("h2"), col("c").as("c2"), col("p").as("p2"))
      val cd = a.join(broadcast(b), col("h1") < col("h2")).agg(
        sum(when((col("c1") < col("c2") && col("p1") < col("p2")) ||
                 (col("c1") > col("c2") && col("p1") > col("p2")), 1L)
          .otherwise(0L)).as("conc"),
        sum(when((col("c1") < col("c2") && col("p1") > col("p2")) ||
                 (col("c1") > col("c2") && col("p1") < col("p2")), 1L)
          .otherwise(0L)).as("disc"))
      val nh = hourly.agg(count(lit(1)).as("n"))
      val t1 = hourly.groupBy(col("c")).agg(count(lit(1)).as("tc"))
        .agg(sum(col("tc").cast("double") * (col("tc") - 1L).cast("double") / lit(2.0)).as("n1"))
      val t2 = hourly.groupBy(col("p")).agg(count(lit(1)).as("tp"))
        .agg(sum(col("tp").cast("double") * (col("tp") - 1L).cast("double") / lit(2.0)).as("n2"))
      val n0 = col("n").cast("double") * (col("n") - 1L).cast("double") / lit(2.0)
      val den = sqrt((n0 - col("n1")) * (n0 - col("n2")))
      val tau = (col("conc") - col("disc")).cast("double") /
        when(den === 0.0, lit(null)).otherwise(den)
      ordered(cd.crossJoin(broadcast(nh)).crossJoin(broadcast(t1))
        .crossJoin(broadcast(t2))
        .select(col("n").as("n_hours"), col("conc"), col("disc"),
          dec4S(tau).as("tau_b")))
    }),

    // ---- TS-7: Theil–Sen robust trend (`theil_sen`) — AGG-18's OLS line
    //      re-estimated the way a fat-finger-immune dashboard needs it:
    //      slope = MEDIAN of all pairwise slopes of the weekly-revenue
    //      series, intercept = median residual at that slope — a single
    //      outlier week moves OLS arbitrarily but shifts a median by one
    //      rank (29.3% breakdown point). The pair relation is the weekly
    //      series against itself: DOMAIN-sized by construction (the
    //      corpus collapses to |weeks| rows through one map-side-combined
    //      decimal-sum aggregate first — calendar-bounded at ANY corpus
    //      size, so |weeks|² pairs is a constant of the date range, not
    //      the data; the declared broadcast self-pair shape, CartesianGuard
    //      whitelisted). GRAIN IS THE COST KNOB: the daily-grain variant
    //      was measured first — |days|²≈2.9M pairs cost 9-10 s via builtin
    //      `percentile` (one final-hashmap task) and ~6 s via the
    //      GlobalRank two-pass median; weekly keeps the estimator's story
    //      at ~350² = 59k pairs for pennies, and a finer grain only
    //      changes the constant, never the data-proportional part.
    //      Determinism: weekly sums are exact decimals whose cents fit a
    //      double exactly (< 2⁵³), slope division is one identical double
    //      op, the median interpolation is spelled identically in the
    //      oracle (two commutative-exact weighted terms). At 100 TB the
    //      collapse is the only data-sized stage; a series outgrowing the
    //      calendar bound needs the sampled Theil–Sen variant (declared
    //      switch). ----
    "theil_sen" -> ((s, d) => {
      val o = load(s, d, "orders")
      // r15 ×2: (a) the weekly collapse sums EXACT SCALED LONGS instead
      // of DECIMAL(38,4) — y only ever leaves as a double, and the
      // declared determinism already requires the scaled sum < 2⁵³
      // ("cents fit a double exactly"), under which (Σ floor(p·10⁴+0.5)
      // as double)/10⁴ is the SAME correctly-rounded double as the
      // decimal sum's cast; (b) the collapse is PINNED — `pts` feeds
      // both pair-generator sides and d0, so the 150k-row scan+groupBy
      // ran twice per query (measured 2-task 1.2 s stage, twice).
      val weekly = o.groupBy(
          date_trunc("week", col("o_orderdate")).cast("date").as("wk"))
        .agg(sum(floor(col("o_totalprice") * lit(10000.0) + lit(0.5))
          .cast("long")).as("revl"))
        .pinned
      val d0 = weekly.agg(min(col("wk")).as("d0"))
      val pts = weekly.crossJoin(broadcast(d0))
        .select(call_function("div", datediff(col("wk"), col("d0")), lit(7))
          .cast("int").as("x"),
          (col("revl").cast("double") / lit(10000.0)).as("y"))
      // The |weeks|-row aggregate lands in ONE AQE-coalesced partition —
      // explicit round-robin width on the STREAM side keeps the nested
      // loop parallel against the broadcast even at a finer grain (at
      // daily grain the 1-partition stream side was the whole first-cut
      // cost; AQE respects user-specified numbers).
      val par = s.sparkContext.defaultParallelism
      val a = pts.repartition(par).select(col("x").as("x1"), col("y").as("y1"))
      val b = pts.select(col("x").as("x2"), col("y").as("y2"))
      // ONE 8-byte column leaves the pair generator: the rank pass pins
      // its input (GlobalRank), and the median VALUE at a rank is
      // invariant under tie order among equal m — so no tie-break columns
      // need to ride along (the oracle ranks by (m, x1, x2); the value at
      // the bracketing ranks is identical either way).
      val slopes = a.join(broadcast(b), col("x1") < col("x2"))
        .select(((col("y2") - col("y1")) /
          (col("x2") - col("x1")).cast("double")).as("m"))
      // Exact median via the two-pass global rank — the same machinery
      // that keeps this shape alive when a finer grain (or a per-key
      // family of series) makes the pair relation big: no single-task
      // sort, no single-task percentile hashmap. Pick the type-7
      // bracketing ranks and interpolate.
      val ranked = graft.operators.GlobalRank.attach(
        slopes, Seq(col("m").asc), Some("rn"))
      val np = ranked.agg(count(lit(1)).as("n_pairs"))
      val h = (col("n_pairs") - lit(1L)).cast("double") * lit(0.5)
      val mhat = ranked.crossJoin(broadcast(np))
        .withColumn("lo", floor(h).cast("long"))
        .withColumn("frac", h - floor(h))
        .filter(col("rn") - 1L === col("lo") ||
          (col("frac") > 0.0 && col("rn") - 1L === col("lo") + 1L))
        .groupBy(col("n_pairs"))
        .agg(sum(when(col("rn") - 1L === col("lo"),
            col("m") * (lit(1.0) - col("frac")))
          .otherwise(col("m") * col("frac"))).as("m"))
      // Residual median runs on the |weeks|-sized relation — builtin
      // percentile is fine at calendar size.
      val res = pts.crossJoin(broadcast(mhat))
        .groupBy(col("n_pairs"), col("m"))
        .agg(count(lit(1)).as("n_days"),
          percentile(col("y") - col("m") * col("x").cast("double"),
            lit(0.5)).as("b0"))
      ordered(res.select(col("n_days").as("n_weeks"), col("n_pairs"),
        dec4S(col("m")).as("slope"), dec4S(col("b0")).as("intercept")))
    })
  )

  /** 0.7ᵏ as exact scale-18 decimal strings, k=0..18 — the ONE source both
    * the Spark query and the DuckDB oracle consume (a retune of K or α at
    * a single site cannot desynchronize the two sides). */
  private val ewmaWeightTable: Seq[(Int, String)] = (0 to 18).map { k =>
    (k, new java.math.BigDecimal("0.7").pow(k).setScale(18).toPlainString)
  }

  private val ewmaWeightValues: String = ewmaWeightTable.map { case (k, w) =>
    s"($k, CAST('$w' AS DECIMAL(19,18)))"
  }.mkString(", ")

  val oracle: Map[String, String] = Map(
    "ewma" ->
      s"""WITH r AS (
        |  SELECT user_id, event_id, ts, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |wt(k, w) AS (VALUES $ewmaWeightValues),
        |p AS (
        |  SELECT r.user_id, r.event_id, r.ts, r.rn - wt.k AS rnj, wt.w
        |  FROM r CROSS JOIN wt WHERE r.rn - wt.k >= 1),
        |j AS (
        |  SELECT p.user_id, p.event_id, p.ts, p.w,
        |    CAST(r2.value AS DECIMAL(10,4)) AS v2
        |  FROM p JOIN r r2 ON p.user_id = r2.user_id AND p.rnj = r2.rn)
        |SELECT user_id, event_id, ts,
        |  CAST(CAST(floor((CAST(SUM(w * v2) AS DOUBLE) / CAST(SUM(w) AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS ewma
        |FROM j GROUP BY user_id, event_id, ts
        |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, ts NULLS FIRST, ewma NULLS FIRST""".stripMargin,

    "cusum_change" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DECIMAL(19,4)) AS x
        |  FROM orders GROUP BY 1),
        |se AS (
        |  SELECT day, x,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day ASC) AS INT) AS t,
        |    CAST(SUM(x) OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING) AS DECIMAL(19,4)) AS prefix,
        |    CAST(COUNT(1) OVER () AS INT) AS n,
        |    CAST(SUM(x) OVER () AS DECIMAL(19,4)) AS total
        |  FROM daily),
        |st AS (SELECT *, abs(n * prefix - t * total) AS s_abs FROM se),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY s_abs DESC, day ASC) AS rk FROM st)
        |SELECT day AS cp_day, t, n AS n_days,
        |  CAST(CAST(s_abs AS DECIMAL(38,4)) AS VARCHAR) AS cusum_stat,
        |  CAST(CAST(floor((CAST(prefix AS DOUBLE) / CAST(t AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mean_before,
        |  CAST(CAST(floor((CAST(total - prefix AS DOUBLE) / (CASE WHEN n = t THEN NULL ELSE CAST(n - t AS DOUBLE) END))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mean_after
        |FROM rk WHERE rk = 1
        |ORDER BY cp_day NULLS FIRST, t NULLS FIRST, n_days NULLS FIRST, cusum_stat NULLS FIRST, mean_before NULLS FIRST, mean_after NULLS FIRST""".stripMargin,

    "acf" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, CAST(COUNT(1) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, cnt,
        |    LEAD(cnt, 1) OVER w AS y1, LEAD(cnt, 2) OVER w AS y2, LEAD(cnt, 3) OVER w AS y3,
        |    LEAD(cnt, 4) OVER w AS y4, LEAD(cnt, 5) OVER w AS y5, LEAD(cnt, 6) OVER w AS y6
        |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hr ASC)),
        |p AS (
        |  SELECT event_type, k.lg, cnt AS x,
        |    CASE k.lg WHEN 1 THEN y1 WHEN 2 THEN y2 WHEN 3 THEN y3
        |              WHEN 4 THEN y4 WHEN 5 THEN y5 ELSE y6 END AS y
        |  FROM l CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6)) AS k(lg)),
        |mo AS (
        |  SELECT event_type, lg, CAST(COUNT(1) AS BIGINT) AS n_pairs,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(y*y) AS DOUBLE) AS syy,
        |    CAST(SUM(x*y) AS DOUBLE) AS sxy
        |  FROM p WHERE y IS NOT NULL GROUP BY 1, 2),
        |f AS (
        |  SELECT event_type, lg, n_pairs,
        |    (CAST(n_pairs AS DOUBLE) * sxy - sx * sy) /
        |      NULLIF(sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
        |                  (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 0.0) AS r
        |  FROM mo)
        |SELECT event_type, lg AS lag, n_pairs,
        |  CAST(CAST(floor((r)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS acf
        |FROM f
        |ORDER BY event_type NULLS FIRST, lag NULLS FIRST, n_pairs NULLS FIRST, acf NULLS FIRST""".stripMargin,

    "corr_kendall" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hr,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
        |cd AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN (a.c < b.c AND a.p < b.p) OR (a.c > b.c AND a.p > b.p)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        |    CAST(SUM(CASE WHEN (a.c < b.c AND a.p > b.p) OR (a.c > b.c AND a.p < b.p)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS disc
        |  FROM hourly a JOIN hourly b ON a.hr < b.hr),
        |nh AS (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM hourly),
        |t1 AS (SELECT SUM(CAST(tc AS DOUBLE) * CAST(tc - 1 AS DOUBLE) / 2.0) AS n1
        |  FROM (SELECT COUNT(1) AS tc FROM hourly GROUP BY c)),
        |t2 AS (SELECT SUM(CAST(tp AS DOUBLE) * CAST(tp - 1 AS DOUBLE) / 2.0) AS n2
        |  FROM (SELECT COUNT(1) AS tp FROM hourly GROUP BY p)),
        |f AS (
        |  SELECT n AS n_hours, conc, disc,
        |    CAST(conc - disc AS DOUBLE) /
        |      NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) / 2.0 - n1) *
        |                  (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) / 2.0 - n2)), 0.0) AS tau
        |  FROM cd CROSS JOIN nh CROSS JOIN t1 CROSS JOIN t2)
        |SELECT n_hours, conc, disc,
        |  CAST(CAST(floor((tau)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS tau_b
        |FROM f
        |ORDER BY n_hours NULLS FIRST, conc NULLS FIRST, disc NULLS FIRST, tau_b NULLS FIRST""".stripMargin,

    "ccf" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hr,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
        |l AS (
        |  SELECT c, p,
        |    LEAD(c, 1) OVER w AS c1, LEAD(c, 2) OVER w AS c2, LEAD(c, 3) OVER w AS c3,
        |    LEAD(p, 1) OVER w AS p1, LEAD(p, 2) OVER w AS p2, LEAD(p, 3) OVER w AS p3
        |  FROM hourly WINDOW w AS (ORDER BY hr ASC)),
        |pr AS (
        |  SELECT k.lg,
        |    CASE WHEN k.lg >= 0 THEN c
        |         WHEN k.lg = -1 THEN c1 WHEN k.lg = -2 THEN c2 ELSE c3 END AS x,
        |    CASE WHEN k.lg <= 0 THEN p
        |         WHEN k.lg = 1 THEN p1 WHEN k.lg = 2 THEN p2 ELSE p3 END AS y
        |  FROM l CROSS JOIN (VALUES (-3),(-2),(-1),(0),(1),(2),(3)) AS k(lg)),
        |mo AS (
        |  SELECT lg, CAST(COUNT(1) AS BIGINT) AS n_pairs,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(y*y) AS DOUBLE) AS syy,
        |    CAST(SUM(x*y) AS DOUBLE) AS sxy
        |  FROM pr WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1),
        |f AS (
        |  SELECT lg, n_pairs,
        |    (CAST(n_pairs AS DOUBLE) * sxy - sx * sy) /
        |      NULLIF(sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
        |                  (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 0.0) AS r
        |  FROM mo)
        |SELECT lg AS lag, n_pairs,
        |  CAST(CAST(floor((r)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS ccf
        |FROM f
        |ORDER BY lag NULLS FIRST, n_pairs NULLS FIRST, ccf NULLS FIRST""".stripMargin,

    "theil_sen" ->
      """WITH weekly AS (
        |  SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS wk,
        |    SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS rev
        |  FROM orders GROUP BY 1
        |), d0 AS (SELECT MIN(wk) AS d0 FROM weekly),
        |pts AS (
        |  SELECT CAST(datediff('day', d0.d0, weekly.wk) // 7 AS INT) AS x,
        |    CAST(rev AS DOUBLE) AS y
        |  FROM weekly CROSS JOIN d0
        |), sl AS (
        |  SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS m,
        |    a.x AS x1, b.x AS x2
        |  FROM pts a JOIN pts b ON a.x < b.x
        |), rk AS (
        |  SELECT m, ROW_NUMBER() OVER (ORDER BY m, x1, x2) AS rn FROM sl
        |), np AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_pairs FROM sl),
        |mh AS (
        |  SELECT n_pairs,
        |    SUM(CASE WHEN rn - 1 = CAST(floor((n_pairs - 1) * 0.5) AS BIGINT)
        |          THEN m * (1.0 - ((n_pairs - 1) * 0.5 - floor((n_pairs - 1) * 0.5)))
        |          ELSE m * ((n_pairs - 1) * 0.5 - floor((n_pairs - 1) * 0.5)) END) AS m
        |  FROM rk CROSS JOIN np
        |  WHERE rn - 1 = CAST(floor((n_pairs - 1) * 0.5) AS BIGINT)
        |     OR (((n_pairs - 1) * 0.5 - floor((n_pairs - 1) * 0.5)) > 0.0
        |         AND rn - 1 = CAST(floor((n_pairs - 1) * 0.5) AS BIGINT) + 1)
        |  GROUP BY n_pairs
        |), res AS (
        |  SELECT mh.n_pairs, mh.m, CAST(COUNT(1) AS BIGINT) AS n_weeks,
        |    quantile_cont(pts.y - mh.m * CAST(pts.x AS DOUBLE), 0.5) AS b0
        |  FROM pts CROSS JOIN mh GROUP BY 1, 2
        |)
        |SELECT n_weeks, n_pairs,
        |  CAST(CAST(floor((m)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS slope,
        |  CAST(CAST(floor((b0)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS intercept
        |FROM res
        |ORDER BY n_weeks NULLS FIRST, n_pairs NULLS FIRST, slope NULLS FIRST, intercept NULLS FIRST""".stripMargin,

    "drift_psi" ->
      """WITH b AS (
        |  SELECT MIN(value) AS vmin, MAX(value) AS vmax,
        |    (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
        |  FROM events),
        |bi AS (
        |  SELECT CAST(LEAST(floor((value - vmin) /
        |    (CASE WHEN vmax = vmin THEN 1.0 ELSE (vmax - vmin) / 10.0 END)), 9.0) AS INTEGER) AS bin,
        |    CASE WHEN epoch_us(ts) < mid THEN 0 ELSE 1 END AS half
        |  FROM events CROSS JOIN b),
        |c AS (
        |  SELECT bin,
        |    CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM bi GROUP BY 1),
        |spine AS (SELECT CAST(UNNEST(range(0, 10)) AS INTEGER) AS bin),
        |t AS (SELECT CAST(SUM(n_a) AS DOUBLE) AS ta, CAST(SUM(n_b) AS DOUBLE) AS tb FROM c),
        |f AS (
        |  SELECT spine.bin AS bin, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b, ta, tb
        |  FROM spine LEFT JOIN c ON spine.bin = c.bin CROSS JOIN t),
        |g AS (
        |  SELECT bin, n_a, n_b,
        |    n_a::DOUBLE / NULLIF(ta, 0.0) AS p,
        |    n_b::DOUBLE / NULLIF(tb, 0.0) AS q FROM f),
        |h AS (
        |  SELECT bin, n_a, n_b, p, q,
        |    CAST(floor((CASE WHEN p + q = 0 THEN 0.0 ELSE (p - q) * (p - q) / (p + q) END)*10000+0.5)/10000 AS DECIMAL(38,4)) AS term_d
        |  FROM g)
        |SELECT bin, n_a, n_b,
        |  CAST(CAST(floor((p)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p_a,
        |  CAST(CAST(floor((q)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p_b,
        |  CAST(CAST(SUM(term_d) OVER () AS DECIMAL(38,4)) AS VARCHAR) AS chi2,
        |  CAST(term_d AS VARCHAR) AS term
        |FROM h
        |ORDER BY bin NULLS FIRST, n_a NULLS FIRST, n_b NULLS FIRST, p_a NULLS FIRST, p_b NULLS FIRST, chi2 NULLS FIRST, term NULLS FIRST""".stripMargin,

    // The oracle spells the distributed two-pass prefix as one running-sum
    // window over the distinct-value relation — same ECDF steps.
    "drift_ks" ->
      """WITH b AS (
        |  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events),
        |pv AS (
        |  SELECT value,
        |    SUM(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN epoch_us(ts) < mid THEN 0 ELSE 1 END) AS cb
        |  FROM events CROSS JOIN b GROUP BY value),
        |cum AS (
        |  SELECT value,
        |    SUM(ca) OVER (ORDER BY value ASC) AS cuma,
        |    SUM(cb) OVER (ORDER BY value ASC) AS cumb
        |  FROM pv),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM pv),
        |sc AS (
        |  SELECT value, na, nb,
        |    abs(CAST(cuma AS DOUBLE) / CAST(NULLIF(na, 0) AS DOUBLE) -
        |        CAST(cumb AS DOUBLE) / CAST(NULLIF(nb, 0) AS DOUBLE)) AS diff
        |  FROM cum CROSS JOIN tot),
        |mx AS (SELECT MAX(diff) AS dmax FROM sc)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(CAST(floor((dmax)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS ks_d,
        |  CAST(CAST(floor((MIN(value))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS at_value,
        |  CAST(floor((dmax)*10000+0.5)/10000 AS DECIMAL(38,4)) >
        |    CAST(floor((1.3581 * sqrt(CAST(na + nb AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))*10000+0.5)/10000 AS DECIMAL(38,4)) AS reject
        |FROM sc CROSS JOIN mx WHERE diff = dmax
        |GROUP BY na, nb, dmax
        |ORDER BY n_a NULLS FIRST, n_b NULLS FIRST, ks_d NULLS FIRST, at_value NULLS FIRST, reject NULLS FIRST""".stripMargin,
    "drift_chi2" ->
      s"""WITH b AS (
        |  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events),
        |cells AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < mid THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |  FROM events CROSS JOIN b GROUP BY event_type),
        |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb,
        |  CAST(COUNT(1) AS BIGINT) AS k FROM cells),
        |crit(dfree, crit) AS (VALUES ${Stats.chi2CritValues}),
        |t AS (
        |  SELECT event_type, n_a, n_b, k,
        |    CAST(n_a + n_b AS DOUBLE) * CAST(NULLIF(ta, 0) AS DOUBLE) /
        |      CAST(ta + tb AS DOUBLE) AS ea,
        |    CAST(n_a + n_b AS DOUBLE) * CAST(NULLIF(tb, 0) AS DOUBLE) /
        |      CAST(ta + tb AS DOUBLE) AS eb
        |  FROM cells CROSS JOIN tot),
        |u AS (
        |  SELECT event_type, n_a, n_b, k, ea, eb,
        |    CAST(floor(((CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea) / ea +
        |                 (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb) / eb)
        |      *10000+0.5)/10000 AS DECIMAL(38,4)) AS term_d
        |  FROM t),
        |v AS (
        |  SELECT event_type, n_a, n_b, ea, eb, term_d,
        |    CAST(SUM(term_d) OVER () AS DECIMAL(38,4)) AS chi2d,
        |    k - 1 AS df
        |  FROM u)
        |SELECT v.event_type, v.n_a, v.n_b,
        |  CAST(CAST(floor((ea)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS exp_a,
        |  CAST(CAST(floor((eb)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS exp_b,
        |  CAST(term_d AS VARCHAR) AS term,
        |  CAST(chi2d AS VARCHAR) AS chi2, v.df,
        |  CAST(chi2d AS DOUBLE) > crit.crit AS reject
        |FROM v LEFT JOIN crit ON v.df = crit.dfree
        |ORDER BY event_type NULLS FIRST, n_a NULLS FIRST, n_b NULLS FIRST,
        |  exp_a NULLS FIRST, exp_b NULLS FIRST, term NULLS FIRST,
        |  chi2 NULLS FIRST, df NULLS FIRST, reject NULLS FIRST""".stripMargin,

    "graph_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |deg AS (SELECT v, COUNT(*) AS deg FROM (
        |          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |        GROUP BY v),
        |t AS (SELECT COUNT(*) AS n_triangles
        |      FROM e e1 JOIN e e2 ON e1.b = e2.a
        |           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        |       (SELECT COUNT(*) FROM e) AS n_edges,
        |       (SELECT CAST(COALESCE(SUM((deg * (deg - 1)) // 2), 0) AS BIGINT) FROM deg) AS n_wedges,
        |       CAST(n_triangles AS BIGINT) AS n_triangles
        |FROM t
        |ORDER BY n_nodes NULLS FIRST, n_edges NULLS FIRST, n_wedges NULLS FIRST, n_triangles NULLS FIRST""".stripMargin,

    "attr_last" ->
      """WITH a AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_tsu
        |  FROM events),
        |p AS (
        |  SELECT event_id, user_id, ts,
        |    (last_click_tsu IS NOT NULL AND
        |     epoch_us(ts) - last_click_tsu <= 86400000000) AS attributed,
        |    last_click_id
        |  FROM a WHERE event_type = 'purchase')
        |SELECT event_id, user_id, ts,
        |  CASE WHEN attributed THEN last_click_id END AS click_id, attributed
        |FROM p
        |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, ts NULLS FIRST, click_id NULLS FIRST, attributed NULLS FIRST""".stripMargin,

    "rfm" -> {
      def scoreSql(v: String, cuts: String) = (1 to 4).map(i =>
        s"CASE WHEN $v > CAST(CAST(floor(($cuts[$i])*10000+0.5)/10000 AS DECIMAL(38,4)) AS DOUBLE) THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH pu AS (
        |  SELECT user_id, MAX(epoch_us(ts)) AS last_pu, COUNT(*) AS f,
        |    CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS m
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |g AS (SELECT MAX(last_pu) AS anchor FROM pu),
        |usr AS (
        |  SELECT user_id, (anchor - last_pu) // 86400000000 AS r_days, f, m,
        |    CAST(m AS DOUBLE) AS m_d
        |  FROM pu CROSS JOIN g),
        |c AS (
        |  SELECT quantile_cont(CAST(r_days AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS rc,
        |    quantile_cont(CAST(f AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS fc,
        |    quantile_cont(m_d, [0.2, 0.4, 0.6, 0.8]) AS mc
        |  FROM usr),
        |sc AS (
        |  SELECT user_id, r_days, f, m,
        |    6 - (1 + ${scoreSql("CAST(r_days AS DOUBLE)", "rc")}) AS r_score,
        |    1 + ${scoreSql("CAST(f AS DOUBLE)", "fc")} AS f_score,
        |    1 + ${scoreSql("m_d", "mc")} AS m_score
        |  FROM usr CROSS JOIN c)
        |SELECT user_id, CAST(r_days AS BIGINT) AS r_days, CAST(f AS BIGINT) AS f,
        |  CAST(m AS VARCHAR) AS m,
        |  CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
        |  CAST(m_score AS INT) AS m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS segment
        |FROM sc
        |ORDER BY user_id NULLS FIRST, r_days NULLS FIRST, f NULLS FIRST, m NULLS FIRST, r_score NULLS FIRST, f_score NULLS FIRST, m_score NULLS FIRST, segment NULLS FIRST""".stripMargin
    },

    "seasonal_profile" ->
      """WITH h AS (
        |  SELECT hour(ts) AS hh, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(38,4))) AS sv
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT CAST(SUM(sv) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS gmean
        |  FROM h)
        |SELECT hh, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(floor((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mean_value,
        |  CAST(CAST(floor((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / gmean)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS seasonal_idx
        |FROM h CROSS JOIN g
        |ORDER BY hh NULLS FIRST, n NULLS FIRST, mean_value NULLS FIRST, seasonal_idx NULLS FIRST""".stripMargin,

    // TS-2's profile CTEs + ANOM-1's MAD-census SQL, run on the residuals.
    "anomaly_seasonal" ->
      """WITH e AS (SELECT event_type AS typ, hour(ts) AS hh, value FROM events),
        |p AS (SELECT typ, hh, COUNT(*) AS np, SUM(CAST(value AS DECIMAL(38,4))) AS sv
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT e.typ, e.value - CAST(p.sv AS DOUBLE) / CAST(p.np AS DOUBLE) AS resid
        |  FROM e JOIN p ON e.typ = p.typ AND e.hh = p.hh),
        |med AS (SELECT typ, quantile_cont(resid, 0.5) AS med FROM r GROUP BY 1),
        |mad AS (SELECT r.typ, MIN(m.med) AS med,
        |    quantile_cont(abs(r.resid - m.med), 0.5) AS mad
        |  FROM r JOIN med m ON r.typ = m.typ GROUP BY r.typ)
        |SELECT r.typ, COUNT(1) AS n,
        |  CAST(CAST(floor(MIN(g.med)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS med_resid,
        |  CAST(CAST(floor(MIN(g.mad)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mad_resid,
        |  COUNT(CASE WHEN CAST(floor(abs(r.resid - g.med)*10000+0.5)/10000 AS DECIMAL(38,4)) >
        |    CAST(floor((4.4478*g.mad)*10000+0.5)/10000 AS DECIMAL(38,4)) THEN 1 END) AS n_out,
        |  COUNT(CASE WHEN CAST(floor(abs(r.resid - g.med)*10000+0.5)/10000 AS DECIMAL(38,4)) >
        |    CAST(floor((4.4478*g.mad)*10000+0.5)/10000 AS DECIMAL(38,4))
        |    AND r.resid < g.med THEN 1 END) AS n_low,
        |  COUNT(CASE WHEN CAST(floor(abs(r.resid - g.med)*10000+0.5)/10000 AS DECIMAL(38,4)) >
        |    CAST(floor((4.4478*g.mad)*10000+0.5)/10000 AS DECIMAL(38,4))
        |    AND r.resid > g.med THEN 1 END) AS n_high
        |FROM r JOIN mad g ON r.typ = g.typ
        |GROUP BY r.typ
        |ORDER BY r.typ NULLS FIRST, n NULLS FIRST, med_resid NULLS FIRST, mad_resid NULLS FIRST,
        |  n_out NULLS FIRST, n_low NULLS FIRST, n_high NULLS FIRST""".stripMargin,

    "split_assign" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, rep,
        |    ((rep % 2147483647) * 2654435761 + 123456789) % 1000 AS bucket
        |  FROM r)
        |SELECT doc_id, rep, bucket,
        |  CASE WHEN bucket < 800 THEN 'train'
        |       WHEN bucket < 900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b
        |ORDER BY doc_id NULLS FIRST, rep NULLS FIRST, bucket NULLS FIRST, split NULLS FIRST""".stripMargin,

    "skyline" ->
      """SELECT p_partkey, p_retailprice, p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey NULLS FIRST, p_retailprice NULLS FIRST, p_size NULLS FIRST""".stripMargin
  )
}
