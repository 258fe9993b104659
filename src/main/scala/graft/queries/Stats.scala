package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables._

/** Statistical-analysis / data-profiling operators (SURVEY.md §2.2 STAT/DQ
  * families).
  *
  * The common thread: every statistic here is computed from EXACT decimal
  * moment sums reduced in one scan, then finished with the deterministic
  * double subset (+ - * / sqrt are IEEE-correctly-rounded, so identical
  * inputs give bit-identical results in Spark and DuckDB — unlike ln/pow,
  * which are libm-dependent and banned from oracle-hashed outputs; see
  * SURVEY §5.3). That is also the 100 TB shape: a full-table statistic must
  * be a map-side-combined aggregate to a TINY moment vector, never a
  * multi-pass or sort-based computation — `corr()` called k² times is k²
  * scans with engine-dependent double summation order; one moment reduce is
  * one scan and exact.
  */
object Stats extends QueryModule {

  /** Exact moment arithmetic: DECIMAL(18,4) inputs so a product is
    * DECIMAL(37,8) in Spark / DECIMAL(36,8) in DuckDB — both EXACT (no
    * precision-cap scale loss, which a (38,4)×(38,4) product would hit).
    * The raw measures are ≤2-decimal doubles well inside (18,4). */
  private val mdt = DecimalType(18, 4)
  private def m(c: Column): Column = c.cast(mdt)

  /** χ²(df, α=0.05) upper-tail critical values, df=1..120 (Abramowitz &
    * Stegun table 26.8 / any public stats table) — the ONE source every
    * χ²-gated statistic AND its DuckDB oracle consume (the ewma
    * weight-table discipline: a retune of α at one site cannot
    * desynchronize the two sides). Consumers: drift_chi2 (Analytics),
    * anova_f (via the large-df2 asymptote df1·F → χ²(df1)), cramers_v.
    * df beyond the table → crit NULL → reject NULL, declared. */
  private[queries] val chi2Crit05: Seq[(Int, String)] = Seq(
    1 -> "3.8415", 2 -> "5.9915", 3 -> "7.8147", 4 -> "9.4877",
    5 -> "11.0705", 6 -> "12.5916", 7 -> "14.0671", 8 -> "15.5073",
    9 -> "16.9190", 10 -> "18.3070", 11 -> "19.6751", 12 -> "21.0261",
    13 -> "22.3620", 14 -> "23.6848", 15 -> "24.9958", 16 -> "26.2962",
    17 -> "27.5871", 18 -> "28.8693", 19 -> "30.1435", 20 -> "31.4104",
    21 -> "32.6706", 22 -> "33.9244", 23 -> "35.1725", 24 -> "36.4150",
    25 -> "37.6525", 26 -> "38.8851", 27 -> "40.1133", 28 -> "41.3371",
    29 -> "42.5570", 30 -> "43.7730", 31 -> "44.9853", 32 -> "46.1943",
    33 -> "47.3999", 34 -> "48.6024", 35 -> "49.8018", 36 -> "50.9985",
    37 -> "52.1923", 38 -> "53.3835", 39 -> "54.5722", 40 -> "55.7585",
    41 -> "56.9424", 42 -> "58.1240", 43 -> "59.3035", 44 -> "60.4809",
    45 -> "61.6562", 46 -> "62.8296", 47 -> "64.0011", 48 -> "65.1708",
    49 -> "66.3386", 50 -> "67.5048", 51 -> "68.6693", 52 -> "69.8322",
    53 -> "70.9935", 54 -> "72.1532", 55 -> "73.3115", 56 -> "74.4683",
    57 -> "75.6237", 58 -> "76.7778", 59 -> "77.9305", 60 -> "79.0819",
    61 -> "80.2321", 62 -> "81.3810", 63 -> "82.5287", 64 -> "83.6753",
    65 -> "84.8206", 66 -> "85.9649", 67 -> "87.1081", 68 -> "88.2502",
    69 -> "89.3912", 70 -> "90.5312", 71 -> "91.6702", 72 -> "92.8083",
    73 -> "93.9453", 74 -> "95.0815", 75 -> "96.2167", 76 -> "97.3510",
    77 -> "98.4844", 78 -> "99.6169", 79 -> "100.7486", 80 -> "101.8795",
    81 -> "103.0095", 82 -> "104.1387", 83 -> "105.2672", 84 -> "106.3948",
    85 -> "107.5217", 86 -> "108.6479", 87 -> "109.7733", 88 -> "110.8980",
    89 -> "112.0220", 90 -> "113.1453", 91 -> "114.2679", 92 -> "115.3898",
    93 -> "116.5110", 94 -> "117.6317", 95 -> "118.7516", 96 -> "119.8709",
    97 -> "120.9896", 98 -> "122.1077", 99 -> "123.2252", 100 -> "124.3421",
    101 -> "125.4584", 102 -> "126.5741", 103 -> "127.6893", 104 -> "128.8039",
    105 -> "129.9180", 106 -> "131.0315", 107 -> "132.1444", 108 -> "133.2569",
    109 -> "134.3688", 110 -> "135.4802", 111 -> "136.5911", 112 -> "137.7015",
    113 -> "138.8114", 114 -> "139.9208", 115 -> "141.0297", 116 -> "142.1382",
    117 -> "143.2461", 118 -> "144.3537", 119 -> "145.4607", 120 -> "146.5674")

  private[queries] val chi2CritValues: String = chi2Crit05.map { case (df, c) =>
    s"(CAST($df AS BIGINT), CAST($c AS DOUBLE))"
  }.mkString(", ")

  val all: Map[String, Q] = Map(
    // ---- STAT-1: Pearson correlation matrix over the lineitem measures,
    //      single-pass. One aggregate reduces the 60k-row (at 100 TB:
    //      trillions-row) table to a 15-number moment vector (n, 4×Σx,
    //      4×Σx², 6×Σxy) with map-side partial aggregation — the moment-
    //      sketch pattern. The matrix itself is then driver-trivial
    //      arithmetic on one row; no second scan, no per-pair corr() calls
    //      (whose internal double accumulation order is engine- and
    //      partitioning-dependent — the moments are DECIMAL-exact instead).
    //      corr = (n·Σxy − ΣxΣy) / √((n·Σx²−(Σx)²)(n·Σy²−(Σy)²)), finished
    //      in the deterministic double subset. ----
    "corr_matrix" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      val vars = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for { i <- vars.indices; j <- vars.indices if i < j }
        yield (vars(i), vars(j))
      val aggs =
        Seq(count(lit(1)).cast("double").as("n")) ++
        vars.map(v => sum(m(col(v))).cast("double").as(s"s_$v")) ++
        vars.map(v => sum(m(col(v)) * m(col(v))).cast("double").as(s"ss_$v")) ++
        pairs.map { case (a, b) =>
          sum(m(col(a)) * m(col(b))).cast("double").as(s"sp_${a}_$b") }
      // zero-variance guard: a constant column makes the denominator 0 and
      // ANSI-mode double division THROWS (0.0/0.0 is not IEEE-exempt in
      // Spark 4); correlation is undefined there — NULL, mirrored by the
      // oracle's NULLIF
      def corr(a: String, b: String): Column = {
        val den = sqrt((col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
          (col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")))
        (col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
          when(den === 0.0, lit(null)).otherwise(den)
      }
      val one = li.agg(aggs.head, aggs.tail: _*)
      ordered(one.select(explode(array(pairs.map { case (a, b) =>
          struct(lit(a).as("var_x"), lit(b).as("var_y"),
            dec4S(corr(a, b)).as("corr"))
        }: _*)).as("p"))
        .select(col("p.var_x").as("var_x"), col("p.var_y").as("var_y"),
          col("p.corr").as("corr")))
    }),

    // ---- STAT-9: one-pass Poisson-bootstrap CI (`bootstrap_ci`) — the
    //      distribution-free confidence interval for a mean whose
    //      population is too skewed for the normal approximation (exactly
    //      this corpus's revenue shape), computed the way a fleet-scale
    //      job must: the CLASSIC bootstrap resamples the dataset B times
    //      (B full shuffles — dead at 100 TB); the Poisson bootstrap
    //      (Hanley & MacGibbon 2006; the standard large-scale variant)
    //      gives every (row, replicate) an independent Poisson(1) weight,
    //      so ALL B=32 replicate sums ride ONE scan as 64 map-side-
    //      combined aggregate columns — zero row amplification, zero
    //      extra shuffles (corr_matrix's moment-vector shape). Weights
    //      are DETERMINISTIC: an LCG on (o_orderkey, b) over 8 cells
    //      mapped to the Poisson(1) surrogate P(0)=P(1)=3/8,
    //      P(2)=P(3)=1/8 — E[w]=1, Var[w]=1 exactly, spelled identically
    //      in both engines (integer ops only, §5.3; rand() would be
    //      rerun- and engine-unstable). Replicate means are exact
    //      decimal sums / int counts; the 95% percentile CI interpolates
    //      the sorted 32-vector at PINNED literal weights (h=0.775 /
    //      30+0.225 — dq_benford's no-runtime-arithmetic-on-quantile-
    //      indices rule: 31·0.025 recomputed in each engine would differ
    //      in the last ulp from the literal). ----
    "bootstrap_ci" -> ((s, d) => {
      val B = 32
      val o = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("x"))
      def w(b: Int): Column = {
        val h = pmod(pmod(col("k"), lit(2147483647L)) * lit(2654435761L) +
          lit(b.toLong * 40503L + 12345L), lit(8L))
        when(h < 3, 0L).when(h < 6, 1L).when(h < 7, 2L).otherwise(3L)
      }
      val aggs = Seq(count(lit(1)).as("n"), sum(dec(col("x"))).cast(dt).as("sx")) ++
        (0 until B).flatMap { b => Seq(
          sum(dec(col("x")) * w(b)).cast(dt).as(s"s_$b"),
          sum(w(b)).as(s"c_$b")) }
      val one = o.agg(aggs.head, aggs.tail: _*)
      val means = array_sort(array((0 until B).map(b =>
        col(s"s_$b").cast("double") / col(s"c_$b").cast("double")): _*))
      def at(i: Int): Column = element_at(col("ms"), i)
      ordered(one.withColumn("ms", means)
        .select(col("n"),
          dec4S(col("sx").cast("double") / col("n").cast("double")).as("mean"),
          dec4S(at(1) + (at(2) - at(1)) * lit(0.775)).as("ci_lo"),
          dec4S(at(31) + (at(32) - at(31)) * lit(0.225)).as("ci_hi"),
          lit(B).as("n_replicates")))
    }),

    // ---- STAT-2: two-proportion A/B test — the experimentation readout
    //      every event platform ships. Variant = user_id % 2 (a stand-in
    //      for the assignment column a real system lands with the event),
    //      conversion = the user emitted more 'purchase' than 'error'
    //      events (a ~50% base-rate outcome — every user in this corpus
    //      has ≥1 purchase, so has-any-purchase would be the degenerate
    //      p̄=1 case where the z denominator vanishes; the guard below
    //      still NULLs z if a future corpus makes p̄∈{0,1}). Shape: one
    //      user-keyed
    //      aggregate (the only data-sized shuffle, map-side combined since
    //      max() is partial-aggregable), then a 1-row conditional rollup;
    //      z = (r₁−r₀)/√(p̄(1−p̄)(1/n₀+1/n₁)) on pooled p̄, all in the
    //      deterministic double subset. 100 TB: per-user conversion flags
    //      are the user-count-sized relation; everything after is one row. ----
    "ab_lift" -> ((s, d) => {
      val e = load(s, d, "events")
      val perUser = e.groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1).otherwise(0)) >
              sum(when(col("event_type") === "error", 1).otherwise(0)))
          .cast("int").as("conv"))
        .withColumn("variant", (col("user_id") % 2).cast("int"))
      val one = perUser.agg(
        sum(when(col("variant") === 0, 1).otherwise(0)).as("n_ctl"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0)).as("conv_ctl"),
        sum(when(col("variant") === 1, 1).otherwise(0)).as("n_trt"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0)).as("conv_trt"))
      // empty-arm guard: a corpus whose user_ids all share one parity has
      // n=0 on the other arm — ANSI double division throws, so the rate
      // (and everything derived) degrades to NULL via NULLIF instead
      def nz(c: Column): Column = when(c === 0.0, lit(null)).otherwise(c)
      val r0 = col("conv_ctl").cast("double") / nz(col("n_ctl").cast("double"))
      val r1 = col("conv_trt").cast("double") / nz(col("n_trt").cast("double"))
      val pPool = (col("conv_ctl") + col("conv_trt")).cast("double") /
        nz((col("n_ctl") + col("n_trt")).cast("double"))
      val se = sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / nz(col("n_ctl").cast("double")) +
         lit(1.0) / nz(col("n_trt").cast("double"))))
      ordered(one.select(
        col("n_ctl"), col("conv_ctl"), col("n_trt"), col("conv_trt"),
        dec4S(r0).as("rate_ctl"), dec4S(r1).as("rate_trt"),
        dec4S(r1 - r0).as("lift_abs"),
        dec4S((r1 - r0) / when(se === 0.0, lit(null)).otherwise(se))
          .as("z_score")))
    }),

    // ---- DQ-4: functional-dependency audit — does `source → lang` hold
    //      in documents? The profiling question behind schema inference,
    //      normalization advice, and "is this column derivable" checks
    //      (data-quality suites call these conditional FDs). Per LHS
    //      value: row count, RHS cardinality, the majority RHS (mode,
    //      ties to the smallest value — AGG-14's rule), and the exact
    //      violation count (rows outside the majority = the minimal
    //      repair size); plus the per-group holds flag. Shape: one
    //      (lhs, rhs) count aggregate (map-side combined, |domain|-sized)
    //      → a WindowGroupLimit top-1 over that TINY relation — the scan
    //      never sees a window; at 100 TB this is AGG-14's exact shape. ----
    // ---- DQ-7: uniqueness / candidate-key audit (`dq_unique`) — the
    //      base profiling metric the DQ family still lacked (DQ-1 nulls,
    //      DQ-2 orphans, DQ-4 FDs — uniqueness is what a catalog checks
    //      FIRST, and what every merge/upsert key claim rests on): for
    //      each declared candidate key, the row count, distinct count,
    //      rows involved in duplicates, the heaviest multiplicity, and
    //      the is-key verdict. The three candidates span the spectrum by
    //      construction: o_orderkey a true key, (custkey, orderdate) a
    //      NEAR-key (the classic trap — 99.8% unique passes an eyeball
    //      check and then a merge fans out), o_orderdate not remotely.
    //      Shape: per candidate ONE map-side-combined groupBy + a
    //      \|distinct\|-row rollup — composes incrementally (per-batch
    //      census merges by key), no window, no sort. ----
    "dq_unique" -> ((s, d) => {
      val o = load(s, d, "orders")
      def audit(cols: Seq[String]) =
        o.groupBy(cols.map(col): _*).agg(count(lit(1)).as("m"))
          .agg(sum(col("m")).as("n_rows"),
            count(lit(1)).as("n_distinct"),
            sum(when(col("m") > 1, col("m")).otherwise(0L)).as("n_dup_rows"),
            max(col("m")).as("max_mult"))
          .select(lit(cols.mkString(",")).as("candidate"),
            col("n_rows"), col("n_distinct"), col("n_dup_rows"), col("max_mult"),
            (col("n_distinct") === col("n_rows")).as("is_key"))
      ordered(Seq(Seq("o_orderkey"), Seq("o_custkey", "o_orderdate"),
        Seq("o_orderdate")).map(audit).reduce(_ unionByName _))
    }),

    "dq_fd" -> ((s, d) => {
      val doc = load(s, d, "documents")
      val pairs = doc.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("cnt").desc, col("lang").asc)
      val top = pairs.withColumn("rn", row_number().over(w))
      ordered(top.groupBy(col("source")).agg(
          sum(col("cnt")).as("n_rows"),
          count(lit(1)).cast("int").as("n_langs"),
          max(when(col("rn") === 1, col("lang"))).as("majority_lang"),
          (sum(col("cnt")) - max(when(col("rn") === 1, col("cnt"))))
            .as("n_violations"))
        .withColumn("fd_holds", col("n_violations") === 0L))
    }),

    // ---- FE-2: standard-scaler audit — per-measure mean/std (sample
    //      std, n−1) from the SAME exact decimal moment sums STAT-1
    //      reduces in one pass, plus an exact-decimal checksum of the
    //      z-scored column ((x−μ)/σ, dec4 per row) — the fit-and-prove
    //      shape of a feature scaler: the stats row IS the fitted scaler
    //      a serving path would load, and the checksum proves the
    //      transform was applied to every row, not just described.
    //      Completes the feature-eng family: FE-1 bins, FE-2 scales,
    //      IMP-1 repairs. Zero-variance guard like STAT-1 (σ=0 → NULL
    //      scores, checksum NULL). ----
    "standard_scale" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      val vars = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs =
        Seq(count(lit(1)).cast("double").as("n")) ++
        vars.map(v => sum(m(col(v))).cast("double").as(s"s_$v")) ++
        vars.map(v => sum(m(col(v)) * m(col(v))).cast("double").as(s"ss_$v"))
      val moments = li.agg(aggs.head, aggs.tail: _*)
      def mean(v: String): Column = col(s"s_$v") / col("n")
      def std(v: String): Column = {
        val varNum = (col("n") * col(s"ss_$v") - col(s"s_$v") * col(s"s_$v")) /
          (col("n") * (col("n") - 1.0))
        sqrt(varNum)
      }
      // r15: the checksum pass reads PRE-REDUCED (μ, σ) scalars, not the
      // raw moment columns — the r14 form re-derived mean/std from the
      // broadcast moments PER ROW (4 sqrt + the variance algebra × 8
      // aggregate expressions on every row; Catalyst does not CSE across
      // aggregate expressions). Same IEEE doubles (one projection over
      // the 1-row moments), so z is bit-identical.
      val scal = moments.select(vars.flatMap(v => Seq(
        mean(v).as(s"mu_$v"),
        when(std(v) === 0.0, lit(null)).otherwise(std(v)).as(s"sd_$v"))): _*)
      def z(v: String): Column = (col(v) - col(s"mu_$v")) / col(s"sd_$v")
      // ONE second pass computes all 8 checksums (never a scan per column).
      // dsum4(c) = Σ dec4(c) = (Σ floor(c·10⁴+0.5)) / 10⁴ exactly — the
      // per-row DECIMAL(38,4) term (BigDecimal-backed: 38 > the
      // long-backed width) is replaced by its exact unscaled LONG, summed
      // primitively, and the decimal is reconstructed once at the end
      // (|z| is O(σ-units) so the long sum is overflow-safe beyond 10¹⁴
      // rows; values bit-identical, oracle unchanged).
      def l4(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)).cast("long")
      def renderSum(c: Column): Column =
        cstr((c.cast(DecimalType(38, 0)) / lit(10000)).cast(dt))
      val sumAggs = vars.map(v => sum(l4(z(v))).as(s"zs_$v")) ++
        vars.map(v => sum(l4(z(v) * z(v))).as(s"zz_$v"))
      val sums = li.crossJoin(broadcast(scal))
        .agg(sumAggs.head, sumAggs.tail: _*)
      ordered(sums.crossJoin(broadcast(moments))
        .select(explode(array(vars.map { v =>
          struct(lit(v).as("var_name"),
            dec4S(mean(v)).as("mean"), dec4S(std(v)).as("std"),
            renderSum(col(s"zs_$v")).as("z_checksum"),
            renderSum(col(s"zz_$v")).as("zz_checksum"))
        }: _*)).as("p"))
        .select(col("p.var_name").as("var_name"), col("p.mean").as("mean"),
          col("p.std").as("std"), col("p.z_checksum").as("z_checksum"),
          col("p.zz_checksum").as("zz_checksum")))
    }),

    // ---- IMP-1: group-median imputation — the standard numeric repair
    //      for missing measures (median, not mean: robust to the outliers
    //      ANOM-1 hunts). The synthetic corpus has no nulls, so a
    //      deterministic mask (event_id % 11 == 0, ~9%) injects them
    //      first — the txt_pii injection pattern: the repair provably
    //      fires. Per-type medians come from the NON-null population
    //      (type-7 percentile, the AGG-7 cross-engine precedent), ride a
    //      broadcast join back, and the audit row per type reports
    //      n/n_imputed/median plus an exact-decimal checksum of the
    //      imputed column (the value a downstream reader would consume —
    //      proving the repair, not just describing it). At 100 TB the
    //      exact median switches to approx_percentile (AGG-11's trade);
    //      the join side is |types|-rows forever. ----
    "impute_median" -> ((s, d) => {
      val e = load(s, d, "events")
        .withColumn("v", when(col("event_id") % 11 === 0, lit(null))
          .otherwise(col("value")))
      val meds = e.filter(col("v").isNotNull)
        .groupBy(col("event_type"))
        .agg(dec4(percentile(col("v"), lit(0.5))).cast("double").as("med"))
      ordered(e.join(broadcast(meds), Seq("event_type"))
        .withColumn("imputed", coalesce(col("v"), col("med")))
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_imputed"),
          dec4S(first(col("med"))).as("median"),
          dsum4S(col("imputed")).as("sum_imputed")))
    }),

    // ---- FE-1: exact-decile discretization (quantile binning) — the
    //      feature transform behind equal-frequency bucketing, monotonic
    //      binning for scorecards, and skew-immune histograms. Cut points
    //      = the 9 interior deciles of l_extendedprice via the type-7
    //      interpolated percentile (the AGG-7 precedent: Spark
    //      `percentile` and DuckDB `quantile_cont` compute the identical
    //      double), dec4-rounded so no row sits on an engine-dependent
    //      comparison tie; bucket = 1 + Σᵢ [v > cutᵢ] spelled as 9
    //      codegen'd whens, not an array HOF. Output = per-bucket census
    //      (n, lo, hi, sum) — equal-frequency up to ties by construction.
    //      Shape: ONE exact-percentile aggregate (the global value sort —
    //      at 100 TB this switches to AGG-11's approx_percentile, same
    //      declared trade as AGG-7) + a 1-row broadcast cut attach + one
    //      map-side-combined 10-group aggregate. ----
    "quantile_bin" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      // r15: the bucket comparison runs in the SCALED-LONG domain, values
      // bit-identical (oracle unchanged). The r14 form evaluated, PER ROW,
      // 9 × (double→DECIMAL(38,4) cast + dec4(element_at(bs,i)) rebuild +
      // BigDecimal compare) — (38,4) exceeds the long-backed decimal
      // width, so the census scan was 9 BigDecimal ops/row on an
      // effectively 1-task parquet split. dec(x) > dec4(cut) ⟺ their
      // unscaled ints compare: floor(x·10⁴+0.5) (exact for the ≤2-decimal
      // raw price) vs floor(cut·10⁴+0.5) (exact: the dec4 grid integer is
      // < 2⁵³). Cuts collapse to NINE LONG SCALARS in the broadcast row —
      // computed once, not per row — and the hot loop is 9 primitive long
      // compares inside whole-stage codegen.
      // r15 #2: the deciles come from a DISTRIBUTED exact computation
      // instead of the `percentile` aggregate, bit-identical values. The
      // aggregate's final merge is a single task that merges every
      // partial counts-map and sorts the full value domain (583k distinct
      // prices at sf0.1 — measured 2.3 s in one task, and data-sized at
      // any scale). Replacement: value-collapse to (price, count), the
      // GlobalRank two-pass prefix for exact cumulative counts, then
      // Spark Percentile's own algebra — pos = (n−1)·q, keys at 1-based
      // ranks floor(pos)+1 / ceil(pos)+1 via the cum intervals, result
      // (ceil−pos)·lowerKey + (pos−floor)·higherKey with the aggregate's
      // equal-key and integral-pos short-circuits (PercentileBase
      // .getPercentile, Spark 4.1) — the same IEEE doubles, so the dec4
      // grid lands identically and the oracle is unchanged.
      val perV = li.groupBy(col("l_extendedprice").as("xv"))
        .agg(count(lit(1)).as("ct"))
      val withG = graft.operators.GlobalRank.attach(perV,
        Seq(col("xv").asc), None, Seq("ct" -> "cpref"))
      val nrow = li.agg(count(lit(1)).as("n"))
      def pos(i: Int): Column = (col("n") - 1L).cast("double") * lit(i / 10.0)
      def lor(i: Int): Column = floor(pos(i))
      def hir(i: Int): Column = ceil(pos(i))
      def covers(t: Column): Column =
        col("cpref") < t && t <= col("cpref") + col("ct")
      val hits = withG.crossJoin(broadcast(nrow))
        .filter((1 to 9).map(i =>
          covers(lor(i) + 1L) || covers(hir(i) + 1L)).reduce(_ || _))
      // ≤18 rows (cums strictly increase, one covering row per rank).
      val aggCols = (1 to 9).flatMap(i => Seq(
        max(when(covers(lor(i) + 1L), col("xv"))).as(s"lk$i"),
        max(when(covers(hir(i) + 1L), col("xv"))).as(s"hk$i"))) :+
        max(col("n")).as("n")
      val picked = hits.groupBy().agg(aggCols.head, aggCols.tail: _*)
      def cutV(i: Int): Column =
        when(hir(i) === lor(i), col(s"lk$i"))
          .when(col(s"hk$i") === col(s"lk$i"), col(s"lk$i"))
          .otherwise((hir(i).cast("double") - pos(i)) * col(s"lk$i") +
            (pos(i) - lor(i).cast("double")) * col(s"hk$i"))
      val cuts = picked.select((1 to 9).map(i =>
        floor(cutV(i) * lit(10000.0) + lit(0.5)).cast("long").as(s"c$i")): _*)
      val xs = floor(col("l_extendedprice") * lit(10000.0) + lit(0.5))
        .cast("long")
      val bucket = (1 to 9).map(i =>
          when(col("xs") > col(s"c$i"), 1).otherwise(0))
        .reduce(_ + _) + 1
      ordered(li.withColumn("xs", xs).crossJoin(broadcast(cuts))
        .withColumn("bucket", bucket)
        .groupBy(col("bucket")).agg(
          count(lit(1)).as("n_rows"),
          decS(min(dec(col("l_extendedprice")))).as("lo"),
          decS(max(dec(col("l_extendedprice")))).as("hi"),
          dsumS(col("l_extendedprice")).as("sum_price")))
    }),

    // ---- FE-4: rank normalization (`rank_normalize`) — the
    //      distribution-free feature transform (rank / (n+1) per group,
    //      mapping any marginal to uniform(0,1)): what FE-2's z-score
    //      does for Gaussian-ish features, this does for arbitrary ones
    //      — heavy tails, multimodality, unit mixes all flatten; ties
    //      get AVERAGE ranks via STAT-6's doubled-rank trick (2·avg =
    //      2·rank() + tie_count − 1, exact ints until one final
    //      division). Output = per-group census with the two LAW
    //      checksums instead of 60k transformed rows: Σr̂ ≈ n/2 within
    //      the dec4 accumulation bound (average-rank symmetry: Σ2·avg =
    //      n(n+1) is an exact rational identity — FE-2's scaler-law
    //      style) and Σr̂² (pins the whole transformed column against
    //      any rank-assignment bug; both are order-free dec4-per-row
    //      decimal sums). Shape: value-collapse to one row per distinct
    //      (group, x) carrying its tie count, then GlobalRank's two-pass
    //      distributed prefix under (group, x) order recovers every
    //      group's min-rank WITHOUT a per-group rank window (2·avg_rank
    //      = 2·within-group-prefix + ct + 1; within-group prefix =
    //      global prefix − the group's first-row prefix, attached by a
    //      \|groups\|-row broadcast); tie-identical rows contribute
    //      ct·dec4(r̂) to the checksums — exact, since tied rows share
    //      one r̂. Replaces the r7 per-group rank window (single-task
    //      per group at 5 groups — and 100 TB groups are data-sized)
    //      with a shape that needs NO approx switch. Measured: base
    //      1.35→1.91 s (the checkpoint+offset machinery costs ~0.6 s
    //      flat — the price of scale insurance), ×10 probe 7.64→2.62 s
    //      (×2.9 faster; growth ×5.7→×1.4). ----
    "rank_normalize" -> ((s, d) => {
      val o = load(s, d, "orders")
        .select(col("o_orderpriority").as("prio"), col("o_totalprice").as("x"))
      val perPX = o.groupBy(col("prio"), col("x")).agg(count(lit(1)).as("ct"))
      val withG = graft.operators.GlobalRank.attach(perPX,
        Seq(col("prio").asc, col("x").asc), None, Seq("ct" -> "gpref"))
      val bases = withG.groupBy(col("prio")).agg(
        min(col("gpref")).as("base"), sum(col("ct")).as("ntot"))
      val ranked = withG.join(broadcast(bases), "prio")
        .withColumn("r2",
          lit(2L) * (col("gpref") - col("base")) + col("ct") + lit(1L))
      val rhat = col("r2").cast("double") /
        (lit(2.0) * (col("ntot") + 1L).cast("double"))
      ordered(ranked.groupBy(col("prio")).agg(
        sum(col("ct")).as("n"),
        cstr(sum(dec4(rhat) * col("ct")).cast(dt)).as("sum_rhat"),
        cstr(sum(dec4(rhat * rhat) * col("ct")).cast(dt)).as("sum_rhat_sq")))
    }),

    // ---- STAT-7: Gini concentration (`gini`) — the inequality statistic
    //      behind whale-risk and data-concentration questions (how much
    //      of revenue/token-mass sits in the top accounts — the number
    //      that says whether losing one customer moves the business):
    //      G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over rank-ordered
    //      per-customer revenue. Exactness: ranks are integers
    //      (row_number over the value sort, ties broken by custkey —
    //      any tie order gives the SAME Σi·x since tied x's are equal),
    //      x's are exact decimals, so both moment sums are exact and G
    //      is one deterministic double division. Shape: the fact scan
    //      reduces to the per-customer relation (map-side combined);
    //      the rank over THAT runs as GlobalRank's two-pass distributed
    //      row_number (range shuffle + pid-local window + broadcast
    //      offsets — no single-partition exchange even when "customers"
    //      means 10⁹ rows at 100 TB; plan-guarded), and the output is
    //      1 row. ----
    "gini" -> ((s, d) => {
      val o = load(s, d, "orders")
      val per = o.groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).cast(DecimalType(19, 4)).as("x"))
      val ranked = graft.operators.GlobalRank.attach(per,
        Seq(col("x").asc, col("o_custkey").asc), Some("i"))
      val one = ranked.agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("i") * col("x")).cast("double").as("six"))
      ordered(one.select(col("n"),
        dec4S(col("sx")).as("total_revenue"),
        dec4S((lit(2.0) * col("six") - (col("n") + 1L).cast("double") * col("sx")) /
          (col("n").cast("double") * col("sx"))).as("gini")))
    }),

    // ---- STAT-6: Mann-Whitney U readout (`mann_whitney`) — the
    //      nonparametric third leg of the experimentation family (STAT-2
    //      tests proportions, STAT-5 adjusts means, this tests STOCHASTIC
    //      DOMINANCE of the per-user value distribution): rank-based, so
    //      immune to the heavy tails that invalidate a t-test on revenue
    //      data. Exact-integer discipline: ties take AVERAGE ranks, kept
    //      integral by working in DOUBLED ranks (2·avg_rank = 2·rank() +
    //      tie_count − 1 — no fractional arithmetic until the final z),
    //      so 2U₁ = Σ2r₁ − n₁(n₁+1) is an exact int64 and the normal
    //      approximation z = (2U₁ − n₀n₁) / (2·√(n₀n₁(n+1)/12)) is one
    //      deterministic double expression (tie-variance correction
    //      omitted by declared semantics — ties are measure-zero on
    //      decimal value sums). Shape: the user-keyed aggregate (the
    //      only data-sized shuffle) → per-VALUE collapse (one row per
    //      distinct y, carrying arm counts) → the min-rank recovered from
    //      GlobalRank's distributed exclusive prefix count, never a
    //      global rank window: rank(y) = 1 + #rows below y, so
    //      2·avg_rank = 2·prefix + ct + 1 per tie group (algebraically
    //      identical to the 2·rank()+ct−1 form, certified by the
    //      unchanged oracle hash) → 1-row rollup. No single-partition
    //      exchange at any width; plan-guarded. ----
    "mann_whitney" -> ((s, d) => {
      val e = load(s, d, "events")
      val perUser = e.groupBy(col("user_id"))
        .agg(sum(m(col("value"))).cast(mdt).as("y"))
        .withColumn("v", (col("user_id") % 2).cast("int"))
      val perY = perUser.groupBy(col("y")).agg(
        count(lit(1)).as("ct"),
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("c1"))
      val withPrefix = graft.operators.GlobalRank.attach(perY,
        Seq(col("y").asc), None, Seq("ct" -> "cbefore"))
      val one = withPrefix.agg(
        sum(col("c0")).as("n0"),
        sum(col("c1")).as("n1"),
        sum(col("c1") * (lit(2L) * col("cbefore") + col("ct") + lit(1L))).as("r2sum"))
      val u2 = col("r2sum") - col("n1") * (col("n1") + 1L) // = 2·U₁, exact
      val nn = col("n0").cast("double") * col("n1").cast("double")
      val z = (u2.cast("double") - nn) /
        (lit(2.0) * sqrt(nn * (col("n0") + col("n1") + 1L).cast("double") / lit(12.0)))
      ordered(one.select(col("n0"), col("n1"),
        dec4S(u2.cast("double") / lit(2.0)).as("u1"),
        dec4S(z).as("z_score")))
    }),

    // ---- DQ-3: Benford first-digit audit — the classic fabricated-data /
    //      unit-mixup tripwire for financial measure columns. First
    //      significant digit via the codegen'd FirstSigDigit expression —
    //      integer division on exact cents (round(v·100)), NEVER
    //      10^floor(log10 x), whose libm log10 can land on the wrong side
    //      of an integer at exact powers of ten. (The DuckDB twin keeps
    //      the DECIMAL-string '[1-9]' regexp form — identical digits on
    //      ≤2-decimal measures, equality spec-pinned in ExpressionSpec;
    //      the Spark string form measured 5.0 s at the ×10 probe vs
    //      1.3 s for the expression, ×3.9.) A 9-row literal digit
    //      spine (with the 4-dec-rounded log10(1+1/d) expectations as
    //      decimal literals, precomputed — no runtime log) LEFT-joins the
    //      observed counts so absent digits still surface with n=0.
    //      Shape: one scan → 9-group aggregate; at 100 TB this is the
    //      cheapest possible full-column audit (map-side combine to 9
    //      rows) and composes per-partition for incremental audits. ----
    "dq_benford" -> ((s, d) => {
      import s.implicits._
      val li = load(s, d, "lineitem")
      val counts = li.select(
          graft.functions.GraftFunctions.first_sig_digit(col("l_extendedprice"))
            .cast("string").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val spine = Seq(
        ("1", 0.3010), ("2", 0.1761), ("3", 0.1249), ("4", 0.0969),
        ("5", 0.0792), ("6", 0.0669), ("7", 0.0580), ("8", 0.0512),
        ("9", 0.0458)).toDF("digit", "exp_freq_d")
      // total from the 9-row counts relation, NOT a second table scan
      // (every row lands in exactly one digit group, including the "0"
      // non-positive group) — this keeps the audit truly one-pass, and on
      // an EMPTY table the sum is NULL so the frequencies degrade to NULL
      // instead of an ANSI 0.0/0.0 throw on the always-present spine rows
      val total = counts.agg(sum(col("n")).cast("double").as("total"))
      val obs = col("n").cast("double") / col("total")
      ordered(spine.join(counts, Seq("digit"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(total))
        .select(col("digit"), col("n").as("n_obs"),
          dec4S(obs).as("obs_freq"), dec4S(col("exp_freq_d")).as("exp_freq"),
          dec4S(abs(obs - col("exp_freq_d"))).as("abs_dev")))
    }),

    // ---- FE-3: hashing-trick collision audit (`feat_hash`) — the fit
    //      check before committing to a feature-hashing dimension
    //      (Weinberger et al. ICML'09): bucket the corpus shingle
    //      vocabulary into D=256 hash buckets (PolyHash mod D — the same
    //      codegen'd hash the pipeline would ship) and report what the
    //      collision budget costs: distinct grams, buckets used, max
    //      load, grams sharing a bucket, and the FREQUENCY-WEIGHTED mass
    //      landing in shared buckets — the number that actually degrades
    //      a hashed-feature model (a rare gram colliding is noise; a hot
    //      one is bias). Shape: gram-frequency aggregate (map-side
    //      combined, vocab-sized) → bucket census (≤D rows) → 1-row
    //      rollup; at 100 TB the gram table is the only data-sized
    //      reduce, and the audit re-runs per candidate D by re-bucketing
    //      the SAME gram relation — never rescanning the corpus. ----
    "feat_hash" -> ((s, d) => {
      import graft.functions.GraftFunctions.poly_hash
      // width-restoring exchange before the per-row bigram explode
      val doc = spread(load(s, d, "documents"), "doc_id")
      // zip_with bigrams (LlmOps.bigramArr): the old transform-over-
      // sequence spelling re-evaluated the captured split per element —
      // O(len²) re-splits per doc (bigramArr's scaladoc).
      val words = split(col("text"), " ")
      val grams = doc.select(explode(when(size(words) >= 2,
          graft.queries.LlmOps.bigramArr(words))
          .otherwise(array().cast("array<string>"))).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("freq"))
      val buckets = grams
        .withColumn("b", poly_hash(col("g")) % lit(256L))
        .groupBy(col("b")).agg(count(lit(1)).as("n_grams"),
          sum(col("freq")).as("mass"))
      ordered(buckets.agg(
        sum(col("n_grams")).as("n_grams"),
        count(lit(1)).as("n_buckets_used"),
        max(col("n_grams")).as("max_load"),
        sum(when(col("n_grams") >= 2, col("n_grams")).otherwise(0L))
          .as("n_collided_grams"),
        sum(col("mass")).as("total_mass"),
        sum(when(col("n_grams") >= 2, col("mass")).otherwise(0L))
          .as("collided_mass"))
        .withColumn("collided_mass_pct",
          dec4S(col("collided_mass").cast("double") /
            col("total_mass").cast("double"))))
    }),

    // ---- PRIV-1: k-anonymity audit (`kanon_audit`) — the privacy gate a
    //      training-data release runs over its quasi-identifiers (Sweeney
    //      2002): every (nationkey, mktsegment) equivalence class sized,
    //      k-anonymity = the SMALLEST class (one member of a size-k class
    //      is re-identifiable among only k candidates), plus the risky
    //      census under the k≥10 release bar — class count, row count and
    //      row share below the bar (35/125 classes fire naturally here).
    //      The output is the 1-row go/no-go a release checklist records;
    //      the remediation (generalize a QI column, suppress risky rows)
    //      re-runs the same audit until k clears the bar. Shape: ONE
    //      map-side-combined QI-class count (the only data-sized shuffle,
    //      \|QI-domain\|-sized output) → a 1-row rollup — the cheapest
    //      possible census at 100 TB, and the class relation composes
    //      incrementally across ingest batches (counts add). ----
    "kanon_audit" -> ((s, d) => {
      val c = load(s, d, "customer")
      val classes = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cs"))
      ordered(classes.agg(
        sum(col("cs")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("cs")).as("k_anonymity"),
        sum(when(col("cs") < 10, 1L).otherwise(0L)).as("n_risky_classes"),
        sum(when(col("cs") < 10, col("cs")).otherwise(0L)).as("n_risky_rows"))
        .withColumn("risky_pct", dec4S(col("n_risky_rows").cast("double") /
          col("n_rows").cast("double"))))
    }),

    // ---- STAT-5: CUPED variance-reduced experiment readout — the
    //      standard pre-experiment-covariate adjustment (Deng et al.,
    //      WSDM'13: Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X)) that every
    //      mature experimentation platform layers over STAT-2's raw
    //      readout: same-user pre-period behavior soaks up between-user
    //      variance, shrinking CIs without touching the treatment effect
    //      (E[Y'|v] shifts both arms equally because θ and X̄ are POOLED —
    //      fitting θ per-arm would bias the contrast). X = user's
    //      pre-period (Jan 1–15) value sum, Y = experiment-period
    //      (Jan 16+) value sum, variant = user_id % 2 (STAT-2's
    //      assignment stand-in). Shape: ONE event scan → user-keyed
    //      exact-decimal (x, y) aggregate (map-side combined; the only
    //      data-sized shuffle) → ONE 12-number per-variant moment rollup
    //      (decimal products exact per STAT-1's discipline) → 1-row
    //      double arithmetic: adjusted mean/variance come ALGEBRAICALLY
    //      from the moments (var(Y') = var(Y) − 2θcov + θ²var(X)), so no
    //      second pass ever materializes the adjusted column. At 100 TB
    //      the user relation is the only intermediate and the moment
    //      rollup is 12 numbers — the same moment-sketch scaling as
    //      STAT-1; var(X)=0 (useless covariate) degrades θ and the
    //      adjusted columns to NULL via NULLIF, raw columns unaffected. ----
    // ---- STAT-10: one-way ANOVA F (`anova_f`) — does mean event value
    //      differ ACROSS the k event types? Completes the hypothesis-test
    //      family's quadrants: STAT-2 two-proportion z, STAT-7
    //      Mann-Whitney two-sample ranks, DRIFT-2 two-sample ECDF,
    //      DRIFT-3 categorical mix — this is the k-sample means test.
    //      F = (SSB/(k−1))/(SSW/(N−k)) from per-group EXACT decimal
    //      moments (n_g, Σx, Σx² — corr_matrix's moment-sketch pattern,
    //      grouped); per-group finish terms (s_g²/n_g and the within
    //      piece) are each ONE double expression dec4-quantized before
    //      the order-free decimal sum across groups (drift_psi's rule —
    //      k-row double summation order is engine-dependent otherwise).
    //      Decision gate: the exact F critical value needs an (df1, df2)
    //      surface; at corpus scale df2 = N−k is astronomically large and
    //      df1·F →d χ²(df1) with error O(1/df2) — the declared semantics
    //      are the ASYMPTOTIC gate dec4(df1·F) > χ²crit(df1) from the
    //      SHARED α=0.05 table (second consumer). Zero within-variance or
    //      k=1 → F NULL (NULLIF); df1 > 20 → reject NULL, declared.
    //      Scale: one map-side-combined k-group moment aggregate, then
    //      k-row arithmetic forever — the cells compose per ingest batch. ----
    "anova_f" -> ((s, d) => {
      import s.implicits._
      val e = load(s, d, "events")
      val g = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_g"),
        sum(m(col("value"))).cast(dt).as("s_g"),
        sum(m(col("value")) * m(col("value")))
          .cast(DecimalType(38, 8)).as("ss_g"))
      val sgd = col("s_g").cast("double")
      val t = g.select(col("n_g"), col("s_g"),
        dec4(sgd * sgd / col("n_g").cast("double")).as("tsq"),
        dec4(col("ss_g").cast("double") -
          sgd * sgd / col("n_g").cast("double")).as("w"))
      val one = t.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g")).cast(dt).as("stot"),
        sum(col("tsq")).cast(dt).as("a"),
        sum(col("w")).cast(dt).as("ssw_d"))
      val nD = col("n").cast("double")
      val df1 = col("k") - 1L
      val df2 = col("n") - col("k")
      val ssb = col("a").cast("double") -
        col("stot").cast("double") * col("stot").cast("double") / nD
      val ssw = col("ssw_d").cast("double")
      def nz(c: Column): Column = when(c === 0.0, lit(null)).otherwise(c)
      val f = (ssb / nz(df1.cast("double"))) / nz(ssw / nz(df2.cast("double")))
      val critDf = chi2Crit05.toDF("dfree", "crits")
        .select(col("dfree").cast("long").as("df1"),
          col("crits").cast("double").as("crit"))
      ordered(one.withColumn("df1", df1).withColumn("df2", df2)
        .join(broadcast(critDf), Seq("df1"), "left")
        .select(col("k"), col("n"), col("df1"), col("df2"),
          dec4S(ssb).as("ssb"), dec4S(ssw).as("ssw"),
          dec4S(f).as("f_stat"),
          (dec4(f * df1.cast("double")) > col("crit")).as("reject")))
    }),

    // ---- STAT-11: Cramér's V association audit (`cramers_v`) — how
    //      strongly do two categorical columns determine each other
    //      (documents lang × source): the effect-size readout a corpus
    //      curator needs BEFORE trusting a per-source language mix (a
    //      high V says language is source-confounded — mixing by source
    //      silently reweights languages). χ² independence statistic on
    //      the r×c contingency table (e = n_x·n_y/N), then
    //      V = √(χ²/(N·(min(r,c)−1))) ∈ [0,1] — deliberately the
    //      ln-free association measure (mutual information's ln is
    //      libm-dependent, §5.3-banned; V is the standard χ²-derived
    //      alternative with the same reading: 0 independent, 1 fully
    //      determined). Cells exact int64 from ONE map-side-combined
    //      aggregate; marginals via domain-sized window sums over the
    //      cell relation; terms dec4 before the decimal window sum
    //      (drift_psi's rule); min(r,c)=1 → V NULL; reject at
    //      df=(r−1)(c−1) from the SHARED α=0.05 table (third consumer).
    //      Scale: the corpus collapses to r·c cells — composes per
    //      ingest batch; everything after lives on the cell relation. ----
    "cramers_v" -> ((s, d) => {
      import s.implicits._
      val doc = load(s, d, "documents")
      val cells = doc.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_xy"))
      // ZERO cells carry χ² mass too ((0−e)²/e = e — without them a
      // perfectly-associated table reads V≈0.82, not 1): materialize the
      // full r×c spine as the cross of the two OBSERVED domains (a
      // domain×domain broadcast cross — bounded by category counts,
      // never data; DQ-3's absent-digit spine convention).
      val spine = doc.select(col("lang")).distinct()
        .crossJoin(broadcast(doc.select(col("source")).distinct()))
      val full = spine.join(cells, Seq("lang", "source"), "left")
        .na.fill(0L, Seq("n_xy"))
      val tot = cells.agg(countDistinct(col("lang")).as("r"),
        countDistinct(col("source")).as("c"),
        sum(col("n_xy")).as("nn"))
      val wX = Window.partitionBy(col("lang"))
      val wY = Window.partitionBy(col("source"))
      val wAll = Window.partitionBy(lit(1))
      val withM = full
        .withColumn("n_x", sum(col("n_xy")).over(wX))
        .withColumn("n_y", sum(col("n_xy")).over(wY))
        .crossJoin(broadcast(tot))
      val exp = col("n_x").cast("double") * col("n_y").cast("double") /
        col("nn").cast("double")
      val dev = col("n_xy").cast("double") - exp
      val scoredCells = withM.withColumn("exp_d", exp)
        .withColumn("term_d", dec4(dev * dev / col("exp_d")))
        .withColumn("chi2d", sum(col("term_d")).over(wAll).cast(dt))
      val df = (col("r") - 1L) * (col("c") - 1L)
      def nz(c: Column): Column = when(c === 0.0, lit(null)).otherwise(c)
      val v = sqrt(col("chi2d").cast("double") /
        nz(col("nn").cast("double") * (least(col("r"), col("c")) - 1L).cast("double")))
      val critDf = chi2Crit05.toDF("dfree", "crits")
        .select(col("dfree").cast("long").as("df"),
          col("crits").cast("double").as("crit"))
      ordered(scoredCells.withColumn("df", df)
        .join(broadcast(critDf), Seq("df"), "left")
        .select(col("lang"), col("source"), col("n_xy"),
          dec4S(col("exp_d")).as("expected"),
          cstr(col("term_d")).as("term"),
          cstr(col("chi2d")).as("chi2"), col("df"),
          dec4S(v).as("cramers_v"),
          (col("chi2d").cast("double") > col("crit")).as("reject")))
    }),

    "cuped" -> ((s, d) => {
      val e = load(s, d, "events")
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val perUser = e.groupBy(col("user_id")).agg(
          sum(when(col("ts") < cut, m(col("value")))).cast(mdt).as("x"),
          sum(when(col("ts") >= cut, m(col("value")))).cast(mdt).as("y"))
        // absent-period users: a user with no pre-period rows has X=NULL;
        // CUPED's standard treatment is X := X̄ (adjustment 0) — spelled
        // here as 0 BEFORE centering only if truly absent. This corpus
        // has every user in both halves (30 days × ~67 events/user), but
        // the guard keeps the moments total (NULL would silently drop
        // the user from Σxy but not Σy, skewing θ).
        .na.fill(0.0, Seq("x", "y"))
        .withColumn("t", (col("user_id") % 2).cast("int"))
      def vsum(v: Int, c: Column, name: String) =
        sum(when(col("t") === v, c)).cast("double").as(name)
      val mo = perUser.agg(
        sum(when(col("t") === 0, 1).otherwise(0)).cast("double").as("n0"),
        sum(when(col("t") === 1, 1).otherwise(0)).cast("double").as("n1"),
        vsum(0, col("x"), "sx0"), vsum(1, col("x"), "sx1"),
        vsum(0, col("y"), "sy0"), vsum(1, col("y"), "sy1"),
        vsum(0, col("x") * col("x"), "sxx0"), vsum(1, col("x") * col("x"), "sxx1"),
        vsum(0, col("y") * col("y"), "syy0"), vsum(1, col("y") * col("y"), "syy1"),
        vsum(0, col("x") * col("y"), "sxy0"), vsum(1, col("x") * col("y"), "sxy1"))
      val n = col("n0") + col("n1")
      val sx = col("sx0") + col("sx1"); val sy = col("sy0") + col("sy1")
      val sxx = col("sxx0") + col("sxx1"); val sxy = col("sxy0") + col("sxy1")
      def nz(c: Column): Column = when(c === 0.0, lit(null)).otherwise(c)
      // pooled θ over ALL users; population normalization cancels in the ratio
      val theta = (n * sxy - sx * sy) / nz(n * sxx - sx * sx)
      val xbar = sx / nz(n)
      def row(v: Int) = {
        val (nv, sxv, syv, sxxv, syyv, sxyv) =
          (col(s"n$v"), col(s"sx$v"), col(s"sy$v"),
           col(s"sxx$v"), col(s"syy$v"), col(s"sxy$v"))
        val meanY = syv / nz(nv)
        val meanAdj = meanY - theta * (sxv / nz(nv) - xbar)
        val den = nz(nv * (nv - 1.0))
        val varY = (nv * syyv - syv * syv) / den
        val covV = (nv * sxyv - sxv * syv) / den
        val varX = (nv * sxxv - sxv * sxv) / den
        val varAdj = varY - lit(2.0) * theta * covV + theta * theta * varX
        struct(lit(v).as("variant"), nv.cast("long").as("n_users"),
          dec4S(meanY).as("mean_y"), dec4S(meanAdj).as("mean_y_cuped"),
          dec4S(varY).as("var_y"), dec4S(varAdj).as("var_y_cuped"),
          dec4S(theta).as("theta"),
          dec4S(lit(1.0) - varAdj / nz(varY)).as("var_reduction"))
      }
      ordered(mo.select(explode(array(row(0), row(1))).as("p"))
        .select(col("p.variant").as("variant"), col("p.n_users").as("n_users"),
          col("p.mean_y").as("mean_y"), col("p.mean_y_cuped").as("mean_y_cuped"),
          col("p.var_y").as("var_y"), col("p.var_y_cuped").as("var_y_cuped"),
          col("p.theta").as("theta"), col("p.var_reduction").as("var_reduction")))
    }),

    // ---- STAT-8: sample-ratio-mismatch audit (`srm_check`) — the
    //      guardrail every experimentation platform runs BEFORE reading
    //      any treatment effect: if the observed arm sizes deviate from
    //      the declared split, the assignment/logging path is broken and
    //      STAT-2/5/6's readouts are meaningless (Fabijan et al., KDD'19
    //      — SRM is the most common silent experiment invalidator).
    //      Exposure unit = DISTINCT (event_type, user): each event_type
    //      plays the role of one experiment's exposure set. Two declared
    //      50/50 assignment schemes per exposure set: 'parity'
    //      (user_id%2 — healthy by construction) and 'mod3' (user_id%3==0
    //      vs rest — a deliberately mis-declared split, so the audit's
    //      firing path is exercised on real data, not just in a unit
    //      test). χ² = Σ(obs−E)²/E with E = n/2, df=1; flag at the 0.05
    //      critical value 3.841. Shape: ONE distinct over
    //      (event_type, user_id) — the only data-sized shuffle, partial-
    //      aggregable — then a |event_types|-row conditional rollup and
    //      pure-double finishing; the exposure relation composes
    //      incrementally across ingest batches (distinct unions). At
    //      100 TB the audit costs one dedup of the exposure log, which
    //      the platform needs materialized anyway. ----
    "srm_check" -> ((s, d) => {
      val e = load(s, d, "events")
      val expo = e.select(col("event_type"), col("user_id")).distinct()
      def nz(c: Column): Column = when(c === 0.0, lit(null)).otherwise(c)
      def schemeRow(name: String, arm: Column) = {
        val n0 = sum(when(arm === 0, 1L).otherwise(0L))
        val n1 = sum(when(arm === 1, 1L).otherwise(0L))
        struct(lit(name).as("scheme"), n0.as("n_arm0"), n1.as("n_arm1"))
      }
      val counts = expo.groupBy(col("event_type")).agg(
        schemeRow("parity", (col("user_id") % 2).cast("int")).as("s1"),
        schemeRow("mod3",
          when(col("user_id") % 3 === 0, 0).otherwise(1)).as("s2"))
      val long = counts.select(col("event_type"),
        explode(array(col("s1"), col("s2"))).as("p"))
        .select(col("event_type"), col("p.scheme").as("scheme"),
          col("p.n_arm0").as("n_arm0"), col("p.n_arm1").as("n_arm1"))
      val eHalf = (col("n_arm0") + col("n_arm1")).cast("double") / lit(2.0)
      def dev(c: Column) = (c.cast("double") - eHalf) * (c.cast("double") - eHalf)
      val chi2 = (dev(col("n_arm0")) + dev(col("n_arm1"))) / nz(eHalf)
      ordered(long.select(col("event_type"), col("scheme"),
        col("n_arm0"), col("n_arm1"), dec4S(chi2).as("chi2"),
        (chi2 > 3.841).as("srm_detected")))
    }),

    // ---- PRIV-2: l-diversity audit (`ldiv_audit`) — PRIV-1's stronger
    //      sibling (Machanavajjhala et al., ICDE'06): k-anonymity bounds
    //      re-identification but a size-k class whose SENSITIVE attribute
    //      is constant still leaks it (homogeneity attack). Per
    //      quasi-identifier class (source, 500-char length bucket) over
    //      documents, with `lang` sensitive: class size, distinct
    //      sensitive values (distinct l-diversity), the majority-value
    //      share (the homogeneity number an auditor reads first), and the
    //      l≥2 verdict. Shape: (QI, lang)-keyed count (the only
    //      data-sized shuffle, map-side combined) → QI-class rollup with
    //      an exact max-count — both relations |QI-domain|-bounded, and
    //      the (QI, lang) counts compose incrementally across batches
    //      exactly like PRIV-1's classes. ----
    "ldiv_audit" -> ((s, d) => {
      val doc = load(s, d, "documents")
      val cells = doc
        .select(col("source"),
          call_function("div", col("n_chars"), lit(500L)).as("len_bucket"),
          col("lang"))
        .groupBy(col("source"), col("len_bucket"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
      val classes = cells.groupBy(col("source"), col("len_bucket")).agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("l_distinct"),
        max(col("cnt")).as("majority_cnt"))
      ordered(classes.select(col("source"), col("len_bucket"),
        col("n_rows"), col("l_distinct"),
        dec4S(col("majority_cnt").cast("double") /
          col("n_rows").cast("double")).as("majority_share"),
        (col("l_distinct") >= 2).as("ldiv_ok")))
    })
  )

  val oracle: Map[String, String] = {
    val vars = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for { i <- vars.indices; j <- vars.indices if i < j }
      yield (vars(i), vars(j))
    // DECIMAL(19,4), not (18,4): DuckDB stores p≤18 decimals in int64 and
    // multiplies there — (price·10⁴)² overflows int64. Width 19 forces the
    // hugeint path; the VALUES are identical to Spark's exact (18,4) side.
    def dm(v: String) = s"CAST($v AS DECIMAL(19,4))"
    val momentSelect =
      (Seq("count(*)::DOUBLE AS n") ++
       vars.map(v => s"CAST(SUM(${dm(v)}) AS DOUBLE) AS s_$v") ++
       vars.map(v => s"CAST(SUM(${dm(v)} * ${dm(v)}) AS DOUBLE) AS ss_$v") ++
       pairs.map { case (a, b) =>
         s"CAST(SUM(${dm(a)} * ${dm(b)}) AS DOUBLE) AS sp_${a}_$b" }).mkString(",\n    ")
    val pairRows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS var_x, '$b' AS var_y,
         |    (n * sp_${a}_$b - s_$a * s_$b) /
         |      NULLIF(sqrt((n * ss_$a - s_$a * s_$a) * (n * ss_$b - s_$b * s_$b)), 0.0) AS c
         |  FROM mo""".stripMargin }.mkString("\n  UNION ALL\n  ")
    Map(
      // DECIMAL(19,4) in the squared-value sum for the same hugeint reason
      // as the corr_matrix moments above.
      "anova_f" ->
        s"""WITH g AS (
          |  SELECT event_type, CAST(COUNT(1) AS BIGINT) AS n_g,
          |    CAST(SUM(CAST(value AS DECIMAL(19,4))) AS DECIMAL(38,4)) AS s_g,
          |    CAST(SUM(CAST(value AS DECIMAL(19,4)) * CAST(value AS DECIMAL(19,4))) AS DECIMAL(38,8)) AS ss_g
          |  FROM events GROUP BY event_type),
          |t AS (
          |  SELECT n_g, s_g,
          |    CAST(floor((CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS tsq,
          |    CAST(floor((CAST(ss_g AS DOUBLE) - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS w
          |  FROM g),
          |one AS (
          |  SELECT CAST(COUNT(1) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
          |    CAST(SUM(s_g) AS DECIMAL(38,4)) AS stot,
          |    CAST(SUM(tsq) AS DECIMAL(38,4)) AS a,
          |    CAST(SUM(w) AS DECIMAL(38,4)) AS ssw_d
          |  FROM t),
          |crit(dfree, crit) AS (VALUES $chi2CritValues),
          |f AS (
          |  SELECT k, n, k - 1 AS df1, n - k AS df2,
          |    CAST(a AS DOUBLE) - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
          |    CAST(ssw_d AS DOUBLE) AS ssw
          |  FROM one),
          |ff AS (
          |  SELECT k, n, df1, df2, ssb, ssw,
          |    (ssb / NULLIF(CAST(df1 AS DOUBLE), 0.0)) /
          |      NULLIF(ssw / NULLIF(CAST(df2 AS DOUBLE), 0.0), 0.0) AS fst
          |  FROM f)
          |SELECT k, n, df1, df2,
          |  CAST(CAST(floor((ssb)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS ssb,
          |  CAST(CAST(floor((ssw)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS ssw,
          |  CAST(CAST(floor((fst)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS f_stat,
          |  CAST(floor((fst * CAST(df1 AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) > crit.crit AS reject
          |FROM ff LEFT JOIN crit ON ff.df1 = crit.dfree
          |ORDER BY k NULLS FIRST, n NULLS FIRST, df1 NULLS FIRST, df2 NULLS FIRST,
          |  ssb NULLS FIRST, ssw NULLS FIRST, f_stat NULLS FIRST, reject NULLS FIRST""".stripMargin,

      "cramers_v" ->
        s"""WITH cells AS (
          |  SELECT lang, source, CAST(COUNT(1) AS BIGINT) AS n_xy
          |  FROM documents GROUP BY lang, source),
          |spine AS (
          |  SELECT l.lang, s.source
          |  FROM (SELECT DISTINCT lang FROM documents) l
          |  CROSS JOIN (SELECT DISTINCT source FROM documents) s),
          |fcell AS (
          |  SELECT spine.lang, spine.source, COALESCE(cells.n_xy, 0) AS n_xy
          |  FROM spine LEFT JOIN cells
          |    ON spine.lang = cells.lang AND spine.source = cells.source),
          |tot AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
          |  CAST(COUNT(DISTINCT source) AS BIGINT) AS c,
          |  CAST(SUM(n_xy) AS BIGINT) AS nn FROM cells),
          |mg AS (
          |  SELECT lang, source, n_xy,
          |    SUM(n_xy) OVER (PARTITION BY lang) AS n_x,
          |    SUM(n_xy) OVER (PARTITION BY source) AS n_y
          |  FROM fcell),
          |t AS (
          |  SELECT lang, source, n_xy, r, c, nn,
          |    CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE) / CAST(nn AS DOUBLE) AS exp_d
          |  FROM mg CROSS JOIN tot),
          |u AS (
          |  SELECT lang, source, n_xy, r, c, nn, exp_d,
          |    CAST(floor(((CAST(n_xy AS DOUBLE) - exp_d) * (CAST(n_xy AS DOUBLE) - exp_d) / exp_d)*10000+0.5)/10000 AS DECIMAL(38,4)) AS term_d
          |  FROM t),
          |v AS (
          |  SELECT lang, source, n_xy, exp_d, term_d, r, c, nn,
          |    CAST(SUM(term_d) OVER () AS DECIMAL(38,4)) AS chi2d,
          |    (r - 1) * (c - 1) AS df
          |  FROM u),
          |crit(dfree, crit) AS (VALUES $chi2CritValues)
          |SELECT v.lang, v.source, v.n_xy,
          |  CAST(CAST(floor((exp_d)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS expected,
          |  CAST(term_d AS VARCHAR) AS term,
          |  CAST(chi2d AS VARCHAR) AS chi2, v.df,
          |  CAST(CAST(floor((sqrt(CAST(chi2d AS DOUBLE) /
          |    NULLIF(CAST(nn AS DOUBLE) * CAST(LEAST(r, c) - 1 AS DOUBLE), 0.0)))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS cramers_v,
          |  CAST(chi2d AS DOUBLE) > crit.crit AS reject
          |FROM v LEFT JOIN crit ON v.df = crit.dfree
          |ORDER BY lang NULLS FIRST, source NULLS FIRST, n_xy NULLS FIRST,
          |  expected NULLS FIRST, term NULLS FIRST, chi2 NULLS FIRST,
          |  df NULLS FIRST, cramers_v NULLS FIRST, reject NULLS FIRST""".stripMargin,

      "corr_matrix" ->
        s"""WITH mo AS (
          |  SELECT $momentSelect
          |  FROM lineitem),
          |p AS (
          |  $pairRows)
          |SELECT var_x, var_y,
          |  CAST(CAST(floor((c)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS corr
          |FROM p
          |ORDER BY var_x NULLS FIRST, var_y NULLS FIRST, corr NULLS FIRST""".stripMargin,

      "dq_unique" -> {
        def one(cands: Seq[String]) =
          s"""SELECT '${cands.mkString(",")}' AS candidate,
             |  CAST(SUM(m) AS BIGINT) AS n_rows,
             |  CAST(COUNT(1) AS BIGINT) AS n_distinct,
             |  CAST(SUM(CASE WHEN m > 1 THEN m ELSE 0 END) AS BIGINT) AS n_dup_rows,
             |  CAST(MAX(m) AS BIGINT) AS max_mult,
             |  COUNT(1) = SUM(m) AS is_key
             |FROM (SELECT COUNT(1) AS m FROM orders GROUP BY ${cands.mkString(", ")})""".stripMargin
        s"""${Seq(Seq("o_orderkey"), Seq("o_custkey", "o_orderdate"), Seq("o_orderdate"))
             .map(one).mkString("\nUNION ALL\n")}
           |ORDER BY candidate NULLS FIRST, n_rows NULLS FIRST, n_distinct NULLS FIRST, n_dup_rows NULLS FIRST, max_mult NULLS FIRST, is_key NULLS FIRST""".stripMargin
      },

      "dq_fd" ->
        """WITH p AS (
          |  SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY 1, 2),
          |t AS (
          |  SELECT source, lang, cnt,
          |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, lang ASC) AS rn
          |  FROM p)
          |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_rows,
          |  CAST(COUNT(*) AS INT) AS n_langs,
          |  MAX(CASE WHEN rn = 1 THEN lang END) AS majority_lang,
          |  CAST(SUM(cnt) - MAX(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS n_violations,
          |  (SUM(cnt) - MAX(CASE WHEN rn = 1 THEN cnt END)) = 0 AS fd_holds
          |FROM t GROUP BY source
          |ORDER BY source NULLS FIRST, n_rows NULLS FIRST, n_langs NULLS FIRST, majority_lang NULLS FIRST, n_violations NULLS FIRST, fd_holds NULLS FIRST""".stripMargin,

      "standard_scale" -> {
        def meanSql(v: String) = s"(s_$v / n)"
        def stdSql(v: String) =
          s"sqrt((n * ss_$v - s_$v * s_$v) / (n * (n - 1.0)))"
        def zSql(v: String) =
          s"(($v - ${meanSql(v)}) / NULLIF(${stdSql(v)}, 0.0))"
        val momentSel =
          (Seq("count(*)::DOUBLE AS n") ++
           vars.map(v => s"CAST(SUM(${dm(v)}) AS DOUBLE) AS s_$v") ++
           vars.map(v => s"CAST(SUM(${dm(v)} * ${dm(v)}) AS DOUBLE) AS ss_$v"))
            .mkString(",\n    ")
        val sumSel = (vars.map(v =>
            s"SUM(CAST(floor((${zSql(v)})*10000+0.5)/10000 AS DECIMAL(38,4))) AS zs_$v") ++
          vars.map(v =>
            s"SUM(CAST(floor((${zSql(v)} * ${zSql(v)})*10000+0.5)/10000 AS DECIMAL(38,4))) AS zz_$v"))
          .mkString(",\n    ")
        val rows = vars.map { v =>
          s"""SELECT '$v' AS var_name,
             |    CAST(CAST(floor((${meanSql(v)})*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mean,
             |    CAST(CAST(floor((${stdSql(v)})*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS std,
             |    CAST(CAST(zs_$v AS DECIMAL(38,4)) AS VARCHAR) AS z_checksum,
             |    CAST(CAST(zz_$v AS DECIMAL(38,4)) AS VARCHAR) AS zz_checksum
             |  FROM s CROSS JOIN mo""".stripMargin }.mkString("\n  UNION ALL\n  ")
        s"""WITH mo AS (
          |  SELECT $momentSel
          |  FROM lineitem),
          |s AS (
          |  SELECT $sumSel
          |  FROM lineitem CROSS JOIN mo)
          |SELECT * FROM (
          |  $rows)
          |ORDER BY var_name NULLS FIRST, mean NULLS FIRST, std NULLS FIRST, z_checksum NULLS FIRST, zz_checksum NULLS FIRST""".stripMargin
      },

      "impute_median" ->
        """WITH e AS (
          |  SELECT event_type,
          |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
          |  FROM events),
          |m AS (
          |  SELECT event_type,
          |    CAST(CAST(floor((quantile_cont(v, 0.5))*10000+0.5)/10000 AS DECIMAL(38,4)) AS DOUBLE) AS med
          |  FROM e WHERE v IS NOT NULL GROUP BY event_type),
          |j AS (
          |  SELECT e.event_type, e.v, m.med, COALESCE(e.v, m.med) AS imputed
          |  FROM e JOIN m ON e.event_type = m.event_type)
          |SELECT event_type, COUNT(*) AS n_rows,
          |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
          |  CAST(CAST(floor((ANY_VALUE(med))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS median,
          |  CAST(CAST(SUM(CAST(floor((imputed)*10000+0.5)/10000 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_imputed
          |FROM j GROUP BY event_type
          |ORDER BY event_type NULLS FIRST, n_rows NULLS FIRST, n_imputed NULLS FIRST, median NULLS FIRST, sum_imputed NULLS FIRST""".stripMargin,

      "quantile_bin" -> {
        val caseSum = (1 to 9).map(i =>
          s"CASE WHEN CAST(l_extendedprice AS DECIMAL(38,4)) > CAST(floor((bs[$i])*10000+0.5)/10000 AS DECIMAL(38,4)) THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH c AS (
          |  SELECT quantile_cont(l_extendedprice,
          |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
          |  FROM lineitem),
          |b AS (
          |  SELECT 1 + $caseSum AS bucket, l_extendedprice
          |  FROM lineitem CROSS JOIN c)
          |SELECT bucket, COUNT(*) AS n_rows,
          |  CAST(MIN(CAST(l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS lo,
          |  CAST(MAX(CAST(l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS hi,
          |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price
          |FROM b GROUP BY bucket
          |ORDER BY bucket NULLS FIRST, n_rows NULLS FIRST, lo NULLS FIRST, hi NULLS FIRST, sum_price NULLS FIRST""".stripMargin
      },

      // 64 one-pass aggregate columns (32 weighted decimal sums + 32
      // weight counts), the identical LCG-cell weights, pinned-literal
      // percentile interpolation on the sorted 32-vector.
      "bootstrap_ci" -> {
        val wExpr = (b: Int) =>
          s"""(CASE WHEN ((k % 2147483647) * 2654435761 + ${b.toLong * 40503L + 12345L}) % 8 < 3 THEN 0
             | WHEN ((k % 2147483647) * 2654435761 + ${b.toLong * 40503L + 12345L}) % 8 < 6 THEN 1
             | WHEN ((k % 2147483647) * 2654435761 + ${b.toLong * 40503L + 12345L}) % 8 < 7 THEN 2
             | ELSE 3 END)""".stripMargin.replaceAll("\n", "")
        val aggCols = (0 until 32).map { b =>
          s"CAST(SUM(CAST(x AS DECIMAL(38,4)) * ${wExpr(b)}) AS DECIMAL(38,4)) AS s_$b, CAST(SUM(${wExpr(b)}) AS BIGINT) AS c_$b"
        }.mkString(",\n|    ")
        val meanList = (0 until 32)
          .map(b => s"CAST(s_$b AS DOUBLE) / CAST(c_$b AS DOUBLE)").mkString(", ")
        s"""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS x FROM orders),
           |a AS (SELECT COUNT(1) AS n,
           |    CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sx,
           |    $aggCols
           |  FROM o),
           |m AS (SELECT n, sx, list_sort([$meanList]) AS ms FROM a)
           |SELECT CAST(n AS BIGINT) AS n,
           |  CAST(CAST(floor((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mean,
           |  CAST(CAST(floor((ms[1] + (ms[2] - ms[1]) * CAST(0.775 AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS ci_lo,
           |  CAST(CAST(floor((ms[31] + (ms[32] - ms[31]) * CAST(0.225 AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS ci_hi,
           |  CAST(32 AS INT) AS n_replicates
           |FROM m
           |ORDER BY n NULLS FIRST, mean NULLS FIRST, ci_lo NULLS FIRST, ci_hi NULLS FIRST, n_replicates NULLS FIRST""".stripMargin
      },

      "ab_lift" ->
        """WITH pu AS (
          |  SELECT user_id,
          |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >
          |         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS INTEGER) AS conv,
          |    CAST(user_id % 2 AS INTEGER) AS variant
          |  FROM events GROUP BY user_id),
          |o AS (
          |  SELECT
          |    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_ctl,
          |    SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS conv_ctl,
          |    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_trt,
          |    SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS conv_trt
          |  FROM pu),
          |z AS (
          |  SELECT n_ctl, conv_ctl, n_trt, conv_trt,
          |    conv_ctl::DOUBLE / NULLIF(n_ctl::DOUBLE, 0.0) AS r0,
          |    conv_trt::DOUBLE / NULLIF(n_trt::DOUBLE, 0.0) AS r1,
          |    (conv_ctl + conv_trt)::DOUBLE / NULLIF((n_ctl + n_trt)::DOUBLE, 0.0) AS pp
          |  FROM o)
          |SELECT CAST(n_ctl AS BIGINT) AS n_ctl, CAST(conv_ctl AS BIGINT) AS conv_ctl,
          |  CAST(n_trt AS BIGINT) AS n_trt, CAST(conv_trt AS BIGINT) AS conv_trt,
          |  CAST(CAST(floor((r0)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS rate_ctl,
          |  CAST(CAST(floor((r1)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS rate_trt,
          |  CAST(CAST(floor((r1 - r0)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS lift_abs,
          |  CAST(CAST(floor(((r1 - r0) / NULLIF(sqrt(pp * (1.0 - pp) * (1.0 / NULLIF(n_ctl::DOUBLE, 0.0) + 1.0 / NULLIF(n_trt::DOUBLE, 0.0))), 0.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS z_score
          |FROM z
          |ORDER BY n_ctl NULLS FIRST, conv_ctl NULLS FIRST, n_trt NULLS FIRST, conv_trt NULLS FIRST, rate_ctl NULLS FIRST, rate_trt NULLS FIRST, lift_abs NULLS FIRST, z_score NULLS FIRST""".stripMargin,

      "dq_benford" ->
        """WITH counts AS (
          |  SELECT regexp_extract(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), '[1-9]', 0) AS digit,
          |    COUNT(*) AS n
          |  FROM lineitem GROUP BY 1),
          |spine(digit, exp_freq_d) AS (
          |  VALUES ('1', 0.3010), ('2', 0.1761), ('3', 0.1249), ('4', 0.0969),
          |         ('5', 0.0792), ('6', 0.0669), ('7', 0.0580), ('8', 0.0512),
          |         ('9', 0.0458)),
          |total AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM counts)
          |SELECT spine.digit AS digit, COALESCE(n, 0) AS n_obs,
          |  CAST(CAST(floor((COALESCE(n, 0)::DOUBLE / total)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS obs_freq,
          |  CAST(CAST(floor((CAST(exp_freq_d AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS exp_freq,
          |  CAST(CAST(floor((abs(COALESCE(n, 0)::DOUBLE / total - CAST(exp_freq_d AS DOUBLE)))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS abs_dev
          |FROM spine LEFT JOIN counts ON spine.digit = counts.digit
          |CROSS JOIN total
          |ORDER BY digit NULLS FIRST, n_obs NULLS FIRST, obs_freq NULLS FIRST, exp_freq NULLS FIRST, abs_dev NULLS FIRST""".stripMargin,

      "rank_normalize" ->
        """WITH rk AS (
          |  SELECT o_orderpriority AS prio,
          |    2 * RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
          |      + COUNT(1) OVER (PARTITION BY o_orderpriority, o_totalprice) - 1 AS r2,
          |    COUNT(1) OVER (PARTITION BY o_orderpriority) AS n
          |  FROM orders),
          |h AS (
          |  SELECT prio, n,
          |    CAST(r2 AS DOUBLE) / (2.0 * CAST(n + 1 AS DOUBLE)) AS rhat
          |  FROM rk)
          |SELECT prio, CAST(MAX(n) AS BIGINT) AS n,
          |  CAST(CAST(SUM(CAST(floor((rhat)*10000+0.5)/10000 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_rhat,
          |  CAST(CAST(SUM(CAST(floor((rhat * rhat)*10000+0.5)/10000 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_rhat_sq
          |FROM h GROUP BY prio
          |ORDER BY prio NULLS FIRST, n NULLS FIRST, sum_rhat NULLS FIRST, sum_rhat_sq NULLS FIRST""".stripMargin,

      "gini" ->
        """WITH per AS (
          |  SELECT o_custkey,
          |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DECIMAL(19,4)) AS x
          |  FROM orders GROUP BY o_custkey),
          |rk AS (
          |  SELECT *, ROW_NUMBER() OVER (ORDER BY x ASC, o_custkey ASC) AS i FROM per),
          |one AS (
          |  SELECT CAST(COUNT(1) AS BIGINT) AS n,
          |    CAST(SUM(x) AS DOUBLE) AS sx,
          |    CAST(SUM(i * x) AS DOUBLE) AS six
          |  FROM rk)
          |SELECT n,
          |  CAST(CAST(floor((sx)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS total_revenue,
          |  CAST(CAST(floor(((2.0 * six - CAST(n + 1 AS DOUBLE) * sx) / (CAST(n AS DOUBLE) * sx))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS gini
          |FROM one
          |ORDER BY n NULLS FIRST, total_revenue NULLS FIRST, gini NULLS FIRST""".stripMargin,

      "mann_whitney" ->
        """WITH pu AS (
          |  SELECT user_id,
          |    CAST(SUM(CAST(value AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS y,
          |    CAST(user_id % 2 AS INT) AS v
          |  FROM events GROUP BY user_id),
          |rk AS (
          |  SELECT *, RANK() OVER (ORDER BY y) AS r,
          |    COUNT(1) OVER (PARTITION BY y) AS ct
          |  FROM pu),
          |one AS (
          |  SELECT
          |    CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          |    CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          |    CAST(SUM(CASE WHEN v = 1 THEN 2 * r + ct - 1 ELSE 0 END) AS BIGINT) AS r2sum
          |  FROM rk)
          |SELECT n0, n1,
          |  CAST(CAST(floor((CAST(r2sum - n1 * (n1 + 1) AS DOUBLE) / 2.0)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS u1,
          |  CAST(CAST(floor(((CAST(r2sum - n1 * (n1 + 1) AS DOUBLE) - CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) /
          |    (2.0 * sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n0 + n1 + 1 AS DOUBLE) / 12.0)))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS z_score
          |FROM one
          |ORDER BY n0 NULLS FIRST, n1 NULLS FIRST, u1 NULLS FIRST, z_score NULLS FIRST""".stripMargin,

      "feat_hash" ->
        """WITH grams AS (
          |  SELECT g, COUNT(1) AS freq FROM (
          |    SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
          |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS g
          |    FROM documents) t
          |  GROUP BY 1),
          |buckets AS (
          |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))),
          |      (acc, c) -> (acc * 31 + c) % 2147483647) % 256 AS b,
          |    COUNT(1) AS n_grams, SUM(freq) AS mass
          |  FROM grams GROUP BY 1)
          |SELECT CAST(SUM(n_grams) AS BIGINT) AS n_grams,
          |  COUNT(1) AS n_buckets_used,
          |  MAX(n_grams) AS max_load,
          |  CAST(SUM(CASE WHEN n_grams >= 2 THEN n_grams ELSE 0 END) AS BIGINT) AS n_collided_grams,
          |  CAST(SUM(mass) AS BIGINT) AS total_mass,
          |  CAST(SUM(CASE WHEN n_grams >= 2 THEN mass ELSE 0 END) AS BIGINT) AS collided_mass,
          |  CAST(CAST(floor((CAST(SUM(CASE WHEN n_grams >= 2 THEN mass ELSE 0 END) AS DOUBLE) /
          |    CAST(SUM(mass) AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS collided_mass_pct
          |FROM buckets
          |ORDER BY n_grams NULLS FIRST, n_buckets_used NULLS FIRST, max_load NULLS FIRST, n_collided_grams NULLS FIRST, total_mass NULLS FIRST, collided_mass NULLS FIRST, collided_mass_pct NULLS FIRST""".stripMargin,

      "kanon_audit" ->
        """WITH cls AS (
          |  SELECT c_nationkey, c_mktsegment, COUNT(1) AS cs
          |  FROM customer GROUP BY 1, 2)
          |SELECT CAST(SUM(cs) AS BIGINT) AS n_rows,
          |  COUNT(1) AS n_classes,
          |  MIN(cs) AS k_anonymity,
          |  CAST(SUM(CASE WHEN cs < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_classes,
          |  CAST(SUM(CASE WHEN cs < 10 THEN cs ELSE 0 END) AS BIGINT) AS n_risky_rows,
          |  CAST(CAST(floor((CAST(SUM(CASE WHEN cs < 10 THEN cs ELSE 0 END) AS DOUBLE) /
          |    CAST(SUM(cs) AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS risky_pct
          |FROM cls
          |ORDER BY n_rows NULLS FIRST, n_classes NULLS FIRST, k_anonymity NULLS FIRST, n_risky_classes NULLS FIRST, n_risky_rows NULLS FIRST, risky_pct NULLS FIRST""".stripMargin,

      "cuped" -> {
        def d4(e: String) =
          s"CAST(CAST(floor(($e)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR)"
        // identical double-arithmetic structure as the Spark side: exact
        // decimal moments -> DOUBLE -> the same formula tree (§5.3)
        val theta = "(n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0)"
        val xbar = "sx / NULLIF(n, 0.0)"
        def vrow(v: Int) = {
          val meanY = s"sy$v / NULLIF(n$v, 0.0)"
          val meanAdj = s"$meanY - theta * (sx$v / NULLIF(n$v, 0.0) - xbar)"
          val den = s"NULLIF(n$v * (n$v - 1.0), 0.0)"
          val varY = s"(n$v * syy$v - sy$v * sy$v) / $den"
          val covV = s"(n$v * sxy$v - sx$v * sy$v) / $den"
          val varX = s"(n$v * sxx$v - sx$v * sx$v) / $den"
          val varAdj = s"$varY - 2.0 * theta * $covV + theta * theta * $varX"
          s"""SELECT $v AS variant, CAST(n$v AS BIGINT) AS n_users,
             |    ${d4(meanY)} AS mean_y, ${d4(meanAdj)} AS mean_y_cuped,
             |    ${d4(varY)} AS var_y, ${d4(varAdj)} AS var_y_cuped,
             |    ${d4("theta")} AS theta,
             |    ${d4(s"1.0 - ($varAdj) / NULLIF($varY, 0.0)")} AS var_reduction
             |  FROM mo2""".stripMargin
        }
        s"""WITH pu AS (
          |  SELECT user_id,
          |    COALESCE(CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
          |      THEN CAST(value AS DECIMAL(19,4)) END) AS DECIMAL(19,4)),
          |      CAST(0 AS DECIMAL(19,4))) AS x,
          |    COALESCE(CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
          |      THEN CAST(value AS DECIMAL(19,4)) END) AS DECIMAL(19,4)),
          |      CAST(0 AS DECIMAL(19,4))) AS y,
          |    CAST(user_id % 2 AS INT) AS t
          |  FROM events GROUP BY user_id),
          |mo AS (
          |  SELECT
          |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
          |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
          |    CAST(SUM(CASE WHEN t = 0 THEN x END) AS DOUBLE) AS sx0,
          |    CAST(SUM(CASE WHEN t = 1 THEN x END) AS DOUBLE) AS sx1,
          |    CAST(SUM(CASE WHEN t = 0 THEN y END) AS DOUBLE) AS sy0,
          |    CAST(SUM(CASE WHEN t = 1 THEN y END) AS DOUBLE) AS sy1,
          |    CAST(SUM(CASE WHEN t = 0 THEN x * x END) AS DOUBLE) AS sxx0,
          |    CAST(SUM(CASE WHEN t = 1 THEN x * x END) AS DOUBLE) AS sxx1,
          |    CAST(SUM(CASE WHEN t = 0 THEN y * y END) AS DOUBLE) AS syy0,
          |    CAST(SUM(CASE WHEN t = 1 THEN y * y END) AS DOUBLE) AS syy1,
          |    CAST(SUM(CASE WHEN t = 0 THEN x * y END) AS DOUBLE) AS sxy0,
          |    CAST(SUM(CASE WHEN t = 1 THEN x * y END) AS DOUBLE) AS sxy1
          |  FROM pu),
          |mo2 AS (
          |  SELECT *,
          |    n0 + n1 AS n, sx0 + sx1 AS sx, sy0 + sy1 AS sy,
          |    sxx0 + sxx1 AS sxx, sxy0 + sxy1 AS sxy
          |  FROM mo),
          |mo3 AS (SELECT *, $theta AS theta, $xbar AS xbar FROM mo2)
          |SELECT * FROM (
          |  ${vrow(0).replace("FROM mo2", "FROM mo3")}
          |  UNION ALL
          |  ${vrow(1).replace("FROM mo2", "FROM mo3")}
          |)
          |ORDER BY variant NULLS FIRST, n_users NULLS FIRST, mean_y NULLS FIRST, mean_y_cuped NULLS FIRST, var_y NULLS FIRST, var_y_cuped NULLS FIRST, theta NULLS FIRST, var_reduction NULLS FIRST""".stripMargin
      },

      "srm_check" ->
        """WITH expo AS (
          |  SELECT DISTINCT event_type, user_id FROM events),
          |counts AS (
          |  SELECT event_type,
          |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS p0,
          |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS p1,
          |    SUM(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS m0,
          |    SUM(CASE WHEN user_id % 3 <> 0 THEN 1 ELSE 0 END) AS m1
          |  FROM expo GROUP BY event_type),
          |lng AS (
          |  SELECT event_type, 'parity' AS scheme,
          |    CAST(p0 AS BIGINT) AS n_arm0, CAST(p1 AS BIGINT) AS n_arm1
          |  FROM counts
          |  UNION ALL
          |  SELECT event_type, 'mod3',
          |    CAST(m0 AS BIGINT), CAST(m1 AS BIGINT)
          |  FROM counts),
          |fin AS (
          |  SELECT event_type, scheme, n_arm0, n_arm1,
          |    ((CAST(n_arm0 AS DOUBLE) - (n_arm0 + n_arm1) / 2.0)
          |       * (CAST(n_arm0 AS DOUBLE) - (n_arm0 + n_arm1) / 2.0)
          |     + (CAST(n_arm1 AS DOUBLE) - (n_arm0 + n_arm1) / 2.0)
          |       * (CAST(n_arm1 AS DOUBLE) - (n_arm0 + n_arm1) / 2.0))
          |      / NULLIF((n_arm0 + n_arm1) / 2.0, 0.0) AS c2
          |  FROM lng)
          |SELECT event_type, scheme, n_arm0, n_arm1,
          |  CAST(CAST(floor((c2)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS chi2,
          |  c2 > 3.841 AS srm_detected
          |FROM fin
          |ORDER BY event_type NULLS FIRST, scheme NULLS FIRST, n_arm0 NULLS FIRST, n_arm1 NULLS FIRST, chi2 NULLS FIRST, srm_detected NULLS FIRST""".stripMargin,

      "ldiv_audit" ->
        """WITH cells AS (
          |  SELECT source, n_chars // 500 AS len_bucket, lang, COUNT(*) AS cnt
          |  FROM documents GROUP BY 1, 2, 3),
          |cls AS (
          |  SELECT source, len_bucket,
          |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
          |    CAST(COUNT(*) AS BIGINT) AS l_distinct,
          |    MAX(cnt) AS majority_cnt
          |  FROM cells GROUP BY 1, 2)
          |SELECT source, len_bucket, n_rows, l_distinct,
          |  CAST(CAST(floor((CAST(majority_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS majority_share,
          |  l_distinct >= 2 AS ldiv_ok
          |FROM cls
          |ORDER BY source NULLS FIRST, len_bucket NULLS FIRST, n_rows NULLS FIRST, l_distinct NULLS FIRST, majority_share NULLS FIRST, ldiv_ok NULLS FIRST""".stripMargin
    )
  }
}
