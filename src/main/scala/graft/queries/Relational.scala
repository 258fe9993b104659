package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables._

/** Relational core operators (SURVEY.md §2.2).
  *
  * Each entry is one oracle-checked query id: the Spark DataFrame build in
  * `all` and the matching DuckDB SQL in `oracle`. Column names and ordering
  * are aligned pair-wise; measures follow the determinism rules in
  * [[graft.core.Tables]].
  *
  * Scale notes (100 TB design point):
  *  - group-bys rely on Spark's partial+final HashAggregate (map-side combine)
  *  - small dimensions (region/nation/customer at TPC-H ratios) are broadcast
  *    explicitly; fact-fact joins shuffle on their keys and lean on AQE for
  *    skew splitting
  *  - top-k is always window-row_number-filter or orderBy.limit
  *    (TakeOrderedAndProject), never a global sort of the full fact table.
  */
object Relational extends QueryModule {

  /** Deletion-neighborhood fuzzy-match pair builder shared by `fzj1` (pair
    * list) and `fzj_cluster` (entity assignment): customer pairs within
    * edit distance 1 (equal length ⟹ hamming ≤ 1), keyed so the (pos, key)
    * equi-join's candidate set is exactly the answer set — see the fzj1
    * design comment. Returns (c1, c2, lev) with c1 < c2, deduplicated. */
  private def fzjPairs(customer: DataFrame): DataFrame = {
    val c = customer.select(col("c_custkey"), col("c_name"))
    val n = length(col("c_name"))
    val delKeys = transform(sequence(lit(1), n), i =>
      struct(i.as("pos"),
        concat(col("c_name").substr(lit(1), i - 1),
          col("c_name").substr(i + 1, n)).as("k")))
    val keyed = c.select(col("c_custkey"), col("c_name"), explode(delKeys).as("dk"))
      .select(col("c_custkey"), col("c_name"),
        col("dk.pos").as("pos"), col("dk.k").as("k"))
      // Explicit count on the exchange feeding the self-join: the posting
      // table is tiny by BYTES (short strings), so AQE would coalesce the
      // join's input to ~1-2 partitions while its OUTPUT fans out ×k² per
      // bucket on duplicate-heavy corpora (the §4.4.3 trap — measured 2/32
      // cores busy on the ×10 clique probe). Partitioning by the join key
      // keeps the probe wide; AQE respects user-specified numbers.
      .transform(spread(_, "pos", "k"))
    val a = keyed.select(col("c_custkey").as("c1"), col("c_name").as("n1"),
      col("pos").as("p1"), col("k").as("k1"))
    val b = keyed.select(col("c_custkey").as("c2"), col("c_name").as("n2"),
      col("pos").as("p2"), col("k").as("k2"))
    a.join(b, col("p1") === col("p2") && col("k1") === col("k2") &&
        col("c1") < col("c2"))
      .select(col("c1"), col("c2"), col("n1"), col("n2")).distinct()
      .withColumn("lev", levenshtein(col("n1"), col("n2")))
      .filter(col("lev") <= 1 && length(col("n1")) === length(col("n2")))
  }

  /** Bucketed+sorted orders/customer catalog tables for JOIN-13, written
    * once per (process, sfDir): 8 buckets on the join key, parquet files
    * under a [[graft.core.Warehouse]] dir (external tables — the catalog
    * entry carries the bucket spec, which is what makes the join
    * exchange-free). The catalog is per-session, so registration is
    * guarded by tableExists rather than only by the once-block: a table
    * written by this process but dropped from a fresh catalog would
    * otherwise be invisible. Returns the two table names. */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    // Same anti-collision recipe as Warehouse.once's output paths: a
    // readable sanitized stem PLUS the exact string's hash — hash alone
    // would let two distinct source dirs with colliding 32-bit hashCodes
    // silently alias to one catalog table.
    val stem = d.replaceAll("[^A-Za-z0-9]", "_").takeRight(40)
    val key = f"${stem}_${d.hashCode}%08x"
    val (to, tc) = (s"orders_bkt_$key", s"customer_bkt_$key")
    if (!s.catalog.tableExists(to) || !s.catalog.tableExists(tc)) {
      val out = graft.core.Warehouse.once(d, "bucket_tables")(_ => ())
      load(s, d, "orders").write.format("parquet")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$out/orders").mode("overwrite").saveAsTable(to)
      load(s, d, "customer").write.format("parquet")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$out/customer").mode("overwrite").saveAsTable(tc)
    }
    (to, tc)
  }

  val all: Map[String, Q] = Map(
    // ---- PRJ-1: projection + computed columns ----
    "prj1" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      ordered(li.select(
        col("l_orderkey"), col("l_linenumber"),
        dec4S(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"),
        dec4S(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("charge")))
    }),

    // ---- FLT-1: predicates: AND/OR, IN, BETWEEN, LIKE, null-safe eq ----
    "flt1" -> ((s, d) => {
      val o = load(s, d, "orders")
      ordered(o.filter(
        col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          col("o_totalprice").between(1000.0, 50000.0) &&
          (col("o_orderstatus").like("F%") || col("o_orderstatus") <=> "P"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          decS(col("o_totalprice")).as("total_price")))
    }),

    // ---- AGG-1: TPC-H Q1-shape hash aggregate ----
    "agg1" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      ordered(li
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsumS(col("l_quantity")).as("sum_qty"),
          dsumS(col("l_extendedprice")).as("sum_base_price"),
          dsum4S(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum4S(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davgS(col("l_quantity")).as("avg_qty"),
          davgS(col("l_extendedprice")).as("avg_price"),
          davgS(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order")))
    }),

    // ---- AGG-1-SALTED: the same sum/count aggregate through the explicit
    //      two-phase salt rewrite (operators/Skew.saltedSumCount) — the
    //      lever for a GROUP BY key so hot its final aggregation lands on
    //      one reducer. lineitem has only 6 (flag,status) groups, the
    //      maximally-skewed shape: unsalted, six reducers own the whole
    //      table; salted, each group's stream is pre-combined across 8
    //      salt buckets and the final pass reads ≤8 rows per group. Same
    //      oracle as the direct aggregation — the rewrite is
    //      result-identical because decimal addition is associative. ----
    "agg1_salted" -> ((s, d) => {
      val li = load(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      ordered(graft.operators.Skew
        .saltedSumCount(li, Seq("l_returnflag", "l_linestatus"), "l_quantity", buckets = 8)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("n"), cstr(col("total")).as("total")))
    }),

    // ---- AGG-2: distinct aggregates ----
    "agg2" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      ordered(li.groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          cstr(sum_distinct(dec(col("l_quantity"))).cast(dt)).as("sum_dist_qty")))
    }),

    // ---- AGG-3: rollup + grouping flags ----
    "agg3" -> ((s, d) => {
      val o = load(s, d, "orders")
        .select(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"), col("o_totalprice"))
      ordered(o
        .rollup(col("o_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dsumS(col("o_totalprice")).as("sum_price"),
          grouping(col("o_year")).cast("int").as("g_year"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio")))
    }),

    // ---- AGG-4: cube ----
    "agg4" -> ((s, d) => {
      val o = load(s, d, "orders")
      ordered(o
        .cube(year(col("o_orderdate")).as("o_year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          davgS(col("o_totalprice")).as("avg_price")))
    }),

    // ---- AGG-4b: GROUPING SETS via SQL ----
    "agg4_gsets" -> ((s, d) => {
      load(s, d, "orders").createOrReplaceTempView("orders")
      ordered(s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n_orders
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |""".stripMargin))
    }),

    // ---- AGG-5: min / max / max_by with unique order value ----
    "agg5" -> ((s, d) => {
      val o = load(s, d, "orders")
      ordered(o.groupBy(col("o_custkey"))
        .agg(
          cstr(min(dec(col("o_totalprice"))).cast(dt)).as("min_price"),
          cstr(max(dec(col("o_totalprice"))).cast(dt)).as("max_price"),
          max_by(col("o_orderstatus"), col("o_orderkey")).as("latest_status"),
          cstr(min_by(dec(col("o_totalprice")), col("o_orderkey")).cast(dt)).as("first_price")))
    }),

    // ---- AGG-6: boolean / conditional aggregates ----
    "agg6" -> ((s, d) => {
      val l = load(s, d, "lineitem")
      ordered(l.groupBy(col("l_returnflag")).agg(
        count_if(col("l_quantity") > 25).as("n_bulk"),
        bool_and(col("l_quantity") > 0).as("all_positive"),
        bool_or(col("l_discount") > 0.09).as("any_deep_discount"),
        count_if(col("l_tax") === 0.0).as("n_taxfree")))
    }),

    // ---- AGG-7: exact percentile aggregates (distribution stats a data
    //      pipeline reports per slice). Spark `percentile` and DuckDB
    //      `quantile_cont` both compute the linearly-interpolated (type-7)
    //      quantile in double arithmetic, so with the dec4 tie-safe render
    //      both engines agree bit-for-bit. Exact percentile shuffles the
    //      group's values once (sort within group); at 100 TB you'd reach
    //      for approx_percentile, which trades the oracle hash away. ----
    "agg7" -> ((s, d) => {
      val l = load(s, d, "lineitem")
      // One percentile aggregate with an array of ps: the group's values
      // buffer ONCE instead of once per percentile (the oracle's three
      // scalar quantile_cont calls produce element-identical results).
      ordered(l.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"))
        .select(col("l_returnflag"),
          dec4S(element_at(col("ps"), 1)).as("p50"),
          dec4S(element_at(col("ps"), 2)).as("p90"),
          dec4S(element_at(col("ps"), 3)).as("p99")))
    }),

    // ---- WIN-4: interval range frame — rolling 10-minute per-user window
    //      over event time (the analytic twin of a sliding stream agg) ----
    "win4" -> ((s, d) => {
      val e = load(s, d, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-600, Window.currentRow)
      ordered(e.select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_10min"),
        cstr(sum(dec(col("value"))).over(w).cast(dt)).as("sum_10min")))
    }),

    // ---- AGG-10: group concatenation (LISTAGG/STRING_AGG) — the report
    //      column "which statuses did this group see". collect_set is
    //      order-nondeterministic under parallel merge, so the DECLARED
    //      semantics sort before joining — rerun- and engine-stable, and
    //      the list stays bounded by the domain size (statuses), not the
    //      group size. ----
    "agg10_listagg" -> ((s, d) => {
      val o = load(s, d, "orders")
      ordered(o.groupBy(col("o_orderpriority")).agg(
        array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).as("n")))
    }),

    // ---- AGG-11: approximate aggregates — the 100 TB switch for the exact
    //      paths above. `approx_count_distinct` is HyperLogLog++ (fixed-size
    //      sketch per group, mergeable map-side: no shuffle of distinct
    //      values, which is what makes exact COUNT(DISTINCT) the first thing
    //      to fall over at scale) and `approx_percentile` is a bounded-error
    //      quantile summary (no per-group sort/buffer like AGG-7's exact
    //      percentile). NOT oracle-hashed: both engines implement different
    //      sketches, so equality is only within the declared error bound —
    //      ApproxSpec asserts |approx-exact| against those bounds instead
    //      (rsd 0.01 for HLL, accuracy 10000 for the percentile summary);
    //      the driver records a rows-only check (SURVEY §2.7). ----
    "agg_approx" -> ((s, d) => {
      val l = load(s, d, "lineitem")
      ordered(l.groupBy(col("l_returnflag")).agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("nd_orders"),
        expr("approx_percentile(l_extendedprice, array(0.5D, 0.99D), 10000)").as("ps"),
        count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("nd_orders"),
          dec4S(element_at(col("ps"), 1)).as("p50"),
          dec4S(element_at(col("ps"), 2)).as("p99"),
          col("n")))
    }),

    // ---- AGG-12: incremental aggregate maintenance — merge PARTIAL
    //      aggregates instead of recomputing history. The nightly-pipeline
    //      shape at 100 TB: yesterday's summary table plus today's delta
    //      partials, combined by re-aggregating the mergeable states
    //      (sum-of-counts, sum-of-decimal-sums, max-of-maxes; avg DERIVED
    //      from merged sum/count, never averaged-of-averages). Cost is
    //      ∝ |delta| + |summary|, not ∝ history — the whole point of
    //      keeping summaries. Decimal addition is associative, so the
    //      merged result is bit-identical to a full recompute: the oracle
    //      IS the single-pass aggregation over the whole table. ----
    "inc_agg" -> ((s, d) => {
      val o = load(s, d, "orders")
      // Mid-MONTH cutoff, deliberately: groups are keyed by month, so a
      // month-aligned cutoff would put every group entirely in one
      // partial and the merge would never combine two states — the
      // January-1998 groups must straddle base and delta for the oracle
      // match to actually certify the merge.
      val cutoff = lit("1998-01-15").cast("timestamp")
      // Partial state per (priority, month): the mergeable trio.
      def partial(df: DataFrame): DataFrame = df
        .groupBy(col("o_orderpriority"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("pn"),
          dsum(col("o_totalprice")).as("psum"),
          max(dec(col("o_totalprice"))).as("pmax"))
      val base  = partial(o.filter(col("o_orderdate") < cutoff))
      val delta = partial(o.filter(col("o_orderdate") >= cutoff))
      ordered(base.unionByName(delta)
        .groupBy(col("o_orderpriority"), col("month"))
        .agg(sum(col("pn")).as("n_orders"),
          sum(col("psum")).cast(dt).as("msum"),
          max(col("pmax")).as("mmax"))
        .select(col("o_orderpriority"), col("month"), col("n_orders"),
          cstr(col("msum")).as("sum_price"),
          cstr(col("mmax")).as("max_price"),
          // avg from MERGED partials: merged decimal sum / merged count —
          // exactly the davg twin the full recompute produces.
          dec4S(col("msum").cast("double") / col("n_orders")).as("avg_price")))
    }),

    // ---- AGG-13: re-aggregatable distinct-count sketches — the cube /
    //      rollup answer to COUNT(DISTINCT) at 100 TB. Fine-grained HLL
    //      sketches (here per priority×month) are stored ONCE, then any
    //      coarser grouping is a cheap sketch UNION — no rescan of the
    //      fact table per rollup level, which is what makes precomputed
    //      distinct-count cubes possible at all (exact distinct states
    //      don't merge without carrying the full value set). Like
    //      agg_approx this cannot be oracle-hashed (DataSketches HLL vs
    //      DuckDB's sketch differ within error bounds); ApproxSpec asserts
    //      the union estimate against the exact distinct per group, and
    //      that sketch-of-union == union-of-sketches. ----
    "agg_hll_merge" -> ((s, d) => {
      val o = load(s, d, "orders")
      val partials = o
        .groupBy(col("o_orderpriority"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      ordered(partials.groupBy(col("o_orderpriority"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_custkeys"),
          count(lit(1)).as("n_months")))
    }),

    // ---- AGG-19: re-aggregatable QUANTILE sketch (`agg_qsketch`) — the
    //      percentile analog of AGG-13's HLL cube (r13 verdict task 5):
    //      exact percentiles don't re-aggregate (AGG-9/WIN-9 recompute
    //      from raw values — impossible for a 100 TB rolling p99), so the
    //      engine ships a MERGEABLE deterministic Munro–Paterson summary
    //      as a TypedImperativeAggregate ([[graft.functions.QSketch]]):
    //      per-partition sketches combine map-side, stored per-group
    //      sketches union into any coarser rollup, and the shuffle
    //      carries O(k·log(n/k)) longs per group, never the values.
    //      Values enter on the exact cents grid (dec2 int64) so the
    //      summary is integer end-to-end. Like agg_approx this cannot be
    //      oracle-hashed (engine-specific sketch, §2.7): ApproxSpec gates
    //      the ε-rank-bound vs exact percentiles per group, GraftLaws
    //      pins merge associativity within the same bound; the driver
    //      records a rows-only check. ----
    "agg_qsketch" -> ((s, d) => {
      import graft.functions.QuantileSketch.quantile_sketch
      val l = load(s, d, "lineitem")
      val cents = floor(col("l_extendedprice").cast("double") * 100.0 + 0.5)
        .cast("long")
      ordered(l.groupBy(col("l_returnflag"))
        .agg(quantile_sketch(cents, 0.5, 0.99).as("qs"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          dec4S(element_at(col("qs"), 1).cast("double") / 100.0).as("p50"),
          dec4S(element_at(col("qs"), 2).cast("double") / 100.0).as("p99"),
          col("n")))
    }),

    // ---- WIN-10: rolling-window percentiles from MERGED per-bucket
    //      sketches (`win_rolling_qsketch`) — AGG-19's production READ
    //      pattern, the thing a 100 TB rolling p99 actually needs: per
    //      ship-month sketches of l_extendedprice cents are the stored
    //      artifacts (ONE scan of the fact table builds them all), and
    //      each month's rolling 3-month p50/p99 merges THREE bounded
    //      O(k·log(n/k)) states — the window function runs over the
    //      |months|-row SKETCH relation, never over values (exact
    //      percentiles would rescan every window; AGG-9's shape can't
    //      re-aggregate). Exact n rides along from the same monthly
    //      relation. Rows-only like AGG-19 (engine-specific sketch,
    //      §2.7); ApproxSpec gates every month's rolling estimates
    //      against exact percentiles of the same 3-month value set. ----
    "win_rolling_qsketch" -> ((s, d) => {
      import graft.functions.QuantileSketch.{quantile_sketch_bin, quantile_sketch_eval}
      val l = load(s, d, "lineitem")
      val cents = floor(col("l_extendedprice").cast("double") * 100.0 + 0.5)
        .cast("long")
      val monthly = l
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("month"))
        .agg(quantile_sketch_bin(cents).as("sk"), count(lit(1)).as("n"))
      // Unpartitioned window by design: it runs over the months-sized
      // sketch relation (84 rows at any corpus size), not the data.
      val w = Window.orderBy(col("month")).rowsBetween(-2, 0)
      val rolled = monthly
        .withColumn("qs", quantile_sketch_eval(
          collect_list(col("sk")).over(w), 0.5, 0.99))
        .withColumn("n3", sum(col("n")).over(w))
      ordered(rolled.select(col("month"),
        dec4S(element_at(col("qs"), 1).cast("double") / 100.0).as("p50"),
        dec4S(element_at(col("qs"), 2).cast("double") / 100.0).as("p99"),
        col("n3")))
    }),

    // ---- JOIN-1: inner equi-join, small side broadcast ----
    "join1" -> ((s, d) => {
      val o = load(s, d, "orders")
      val c = load(s, d, "customer")
      ordered(o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsumS(col("o_totalprice")).as("sum_price")))
    }),

    // ---- JOIN-2: fact-fact shuffle join + aggregate (Q3 shape) ----
    "join2" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      val o = load(s, d, "orders")
      ordered(li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
        .filter(col("o_orderdate") < lit("1995-06-01").cast("timestamp") &&
          col("l_shipdate") > lit("1995-06-01").cast("timestamp"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(dsum4S(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue")))
    }),

    // ---- JOIN-2-SALTED: the same fact-fact join through the explicit
    //      salted-join rewrite (operators/Skew.saltedJoin) — the lever for
    //      a join key so hot one task owns it and AQE's skew split can't
    //      help (e.g. a single key larger than a task). Each lineitem row
    //      takes one of 4 salts; the orders side is replicated ×4 so every
    //      row still meets its full match set. Row multiset is provably
    //      identical to the plain join, so the oracle is join2's — the
    //      plan guard pins the salted shape. ----
    "join2_salted" -> ((s, d) => {
      val li = load(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1995-06-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = load(s, d, "orders")
        .filter(col("o_orderdate") < lit("1995-06-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderpriority"))
      ordered(graft.operators.Skew.saltedJoin(li, o, "l_orderkey", "o_orderkey", buckets = 4)
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(dsum4S(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue")))
    }),

    // ---- JOIN-3: multi-way join (Q5 shape), dims broadcast ----
    "join3" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      val o = load(s, d, "orders")
      val c = load(s, d, "customer")
      val su = load(s, d, "supplier")
      val n = load(s, d, "nation")
      val r = load(s, d, "region")
      ordered(li
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum4S(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items")))
    }),

    // ---- JOIN-4: left outer join, count order rows per customer ----
    "join4" -> ((s, d) => {
      val c = load(s, d, "customer")
      val o = load(s, d, "orders")
      ordered(c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders")))
    }),

    // ---- JOIN-5: full outer join ----
    "join5" -> ((s, d) => {
      val su = load(s, d, "supplier")
      val n = load(s, d, "nation")
      ordered(su.join(n, su("s_nationkey") === n("n_nationkey"), "full_outer")
        .select(col("s_suppkey"), col("s_name"), col("n_nationkey"), col("n_name")))
    }),

    // ---- JOIN-6: left semi (EXISTS) ----
    "join6" -> ((s, d) => {
      val c = load(s, d, "customer")
      val o = load(s, d, "orders")
      ordered(c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")))
    }),

    // ---- JOIN-7: left anti (NOT EXISTS) ----
    "join7" -> ((s, d) => {
      val c = load(s, d, "customer")
      val o = load(s, d, "orders")
      ordered(c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")))
    }),

    // ---- JOIN-8: cross join (bounded dims) ----
    "join8" -> ((s, d) => {
      val r = load(s, d, "region")
      val n = load(s, d, "nation")
      ordered(r.crossJoin(n).select(col("r_name"), col("n_name")))
    }),

    // ---- JOIN-9: equi-join + non-equi residual ----
    "join9" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      val p = load(s, d, "part")
      ordered(li.join(broadcast(p),
        li("l_partkey") === p("p_partkey") &&
          li("l_extendedprice") > p("p_retailprice") * lit(20.0))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"), dsumS(col("l_extendedprice")).as("sum_price")))
    }),

    // ---- JAUD-1: join pre-flight audit (`join_audit`) — the
    //      explosion/skew estimator run BEFORE committing to a join plan
    //      (what cost-based stats systems compute, here as a first-class
    //      op): for the planned lineitem ⋈ returns-slice join on
    //      l_suppkey, the per-key output contribution n_left(k)·n_right(k)
    //      — the EXACT join cardinality per key — ranked top-10 with
    //      share-of-total and cumulative share. A top key carrying >5% of
    //      a trillion-row join output is the salting/AQE-skew trigger
    //      (AGG-1-SALTED's threshold reasoning), and Σ contrib vs input
    //      sizes is the explosion factor that says broadcast-vs-shuffle
    //      or rethink-the-key. Shape: TWO map-side-combined key-count
    //      aggregates (each |keys|-sized, NEVER the join itself — the
    //      audit costs two scans, the bad join would cost Σ contrib),
    //      an equi-join of the two tiny count relations, global top-10 =
    //      TakeOrdered, 1-row total broadcast back for shares. At 100 TB
    //      the count relations are still key-cardinality-sized; when even
    //      those blow up, freq_cms's sketch is the declared switch. ----
    "join_audit" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      val a = li.groupBy(col("l_suppkey").as("k"))
        .agg(count(lit(1)).as("n_left"))
      val b = li.filter(col("l_returnflag") === "R")
        .groupBy(col("l_suppkey").as("k2"))
        .agg(count(lit(1)).as("n_right"))
      val contrib = a.join(b, col("k") === col("k2"))
        .select(col("k"), col("n_left"), col("n_right"),
          (col("n_left") * col("n_right")).as("contrib"))
      val total = contrib.agg(sum(col("contrib")).as("total"))
      val top = contrib.orderBy(col("contrib").desc, col("k").asc).limit(10)
        .crossJoin(broadcast(total))
      val w = Window.orderBy(col("contrib").desc, col("k").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ordered(top
        .withColumn("rank", row_number().over(
          Window.orderBy(col("contrib").desc, col("k").asc)))
        .withColumn("cum", sum(col("contrib")).over(w))
        .select(col("rank"), col("k").as("suppkey"),
          col("n_left"), col("n_right"), col("contrib"),
          dec4S(col("contrib").cast("double") / col("total").cast("double"))
            .as("share"),
          dec4S(col("cum").cast("double") / col("total").cast("double"))
            .as("cum_share")))
    }),

    // ---- JOIN-9b: pure band (range) join on small tables ----
    "join9_band" -> ((s, d) => {
      val su = load(s, d, "supplier")
      val c = load(s, d, "customer")
      ordered(su.join(c,
        c("c_acctbal").between(su("s_acctbal") - lit(100.0), su("s_acctbal") + lit(100.0)),
        "inner")
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_close"), davgS(col("c_acctbal")).as("avg_bal")))
    }),

    // ---- JOIN-13: bucketed co-located join — the EXCHANGE-FREE join the
    //      SURVEY declares as the 100 TB answer for recurring key-joins
    //      (mrg1/recon/retrieve_rerank notes), demonstrated instead of
    //      just cited: both sides written ONCE as bucketed+sorted tables
    //      (8 buckets on the join key), after which every join on that key
    //      reads bucket i against bucket i — NO exchange on either side,
    //      however many times the join runs. That trade (one organized
    //      write amortized over every downstream join) is the bucketing
    //      contract; the plan guard pins the exchange-free join. A cheap
    //      per-bucket SMJ sort remains: Spark ≥3 stopped trusting sortBy
    //      order at read (multi-file buckets can't guarantee it) — it
    //      sorts already-clustered rows in memory, no exchange; the
    //      shuffle elimination is the term that matters at 100 TB (the
    //      sort is bucket-local CPU, the exchange it replaces is
    //      all-to-all network over the fact table). The MERGE hint keeps the
    //      demonstration honest at test SF, where the dim side would
    //      otherwise broadcast — at production fact×fact scale SMJ is
    //      what the optimizer picks unhinted. Oracle = the identical
    //      aggregate from the plain parquet tables (bucketing is a
    //      LAYOUT, it must change nothing about the result). ----
    "join13_bucket" -> ((s, d) => {
      val (to, tc) = bucketedTables(s, d)
      val o = s.table(to)
      val c = s.table(tc)
      ordered(o.hint("merge").join(c, o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsumS(col("o_totalprice")).as("sum_price")))
    }),

    // ---- JOIN-10: as-of-style join (latest click at-or-before each
    //      user's last purchase) ----
    "join10" -> ((s, d) => {
      val e = load(s, d, "events")
      val probes = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user")).agg(max(col("ts")).as("probe_ts"))
      val clicks = e.filter(col("event_type") === "click")
      val w = Window.partitionBy(col("p_user"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ordered(clicks.join(probes,
        clicks("user_id") === probes("p_user") && clicks("ts") <= probes("probe_ts"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("p_user").as("user_id"), col("probe_ts"),
          col("ts").as("click_ts"), col("event_id").as("click_event")))
    }),

    // ---- AGG-8: statistical aggregates — corr/covar/stddev/variance per
    //      group. Both engines use numerically-stable co-moment merges;
    //      operand magnitudes are kept small (discount/tax scale) so the
    //      engines' different summation orders stay far below the dec4
    //      rendering resolution. ----
    "agg8" -> ((s, d) => {
      val l = load(s, d, "lineitem")
      ordered(l.groupBy(col("l_returnflag")).agg(
        dec4S(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        dec4S(covar_samp(col("l_quantity"), col("l_discount"))).as("covar_qty_disc"),
        dec4S(stddev_samp(col("l_discount"))).as("sd_disc"),
        dec4S(var_samp(col("l_tax"))).as("var_tax")))
    }),

    // ---- AGG-9: EXACT percentiles (p25/median/p90) per group — the
    //      distribution summary every data-quality dashboard asks of a
    //      measure. Spark's `percentile` is the exact sort-based aggregate
    //      with linear interpolation at fractional ranks, matching
    //      DuckDB's `quantile_cont` (both: lower + frac·(upper−lower) on
    //      2-decimal inputs → identical IEEE doubles). Exact percentiles
    //      hold the full group in memory at the final aggregate — fine for
    //      bounded groups like returnflag; at 100 TB over high-cardinality
    //      groups you'd switch to approx_percentile (t-digest) and accept
    //      the loss of a cross-engine hash oracle. ----
    "agg9_pct" -> ((s, d) => {
      val l = load(s, d, "lineitem")
      ordered(l.groupBy(col("l_returnflag")).agg(
        farrS(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.9D))")).as("qty_pct"),
        farrS(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D))")).as("price_pct")))
    }),

    // ---- WIN-5: distribution window functions — cume_dist/percent_rank
    //      are exact rationals (rank arithmetic over identical ints), so
    //      the doubles agree bit-for-bit across engines. ----
    "win5" -> ((s, d) => {
      val o = load(s, d, "orders")
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      ordered(o.select(
        col("o_orderpriority"), col("o_orderkey"),
        dec4S(cume_dist().over(w)).as("cd"),
        dec4S(percent_rank().over(w)).as("pr")))
    }),

    // ---- WIN-6: bucketed ranking — ntile quartiles (equal-count buckets
    //      per partition, the spend-tier segmentation every report uses)
    //      and nth_value (the "second-cheapest" reference row visible to
    //      every row of its partition once seen). Ties broken by the
    //      unique key so both engines' standard-SQL bucket arithmetic and
    //      default nth_value frame (RANGE unbounded-preceding..current)
    //      agree row-for-row. ----
    "win6" -> ((s, d) => {
      val o = load(s, d, "orders")
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      ordered(o.select(
        col("o_orderpriority"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        decS(nth_value(col("o_totalprice"), 2).over(w)).as("second_price")))
    }),

    // ---- JOIN-11: per-event as-of join, certified against DuckDB's
    //      NATIVE `ASOF JOIN` operator. The engine formulation is the
    //      100 TB one: tag both streams, ONE sort per user, and carry the
    //      last click time forward with a running `last(ignoreNulls)`
    //      window — no range-join fan-out (a purchase preceded by k
    //      clicks costs one row, not k). Same-instant clicks qualify
    //      (c.ts <= p.ts), so the tiebreak orders 'click' < 'purchase'
    //      at equal ts. ----
    "join11" -> ((s, d) => {
      val e = load(s, d, "events")
      val tagged = e.filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_type").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lastClick = last(
        when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w)
      ordered(tagged.withColumn("click_ts", lastClick)
        .filter(col("event_type") === "purchase" && col("click_ts").isNotNull)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("click_ts")))
    }),

    // ---- JOIN-14: nearest-in-time join (sensor-fusion semantics) —
    //      every purchase matched to its temporally NEAREST click by the
    //      same user, in EITHER direction (join11 is the backward-only
    //      special case). The scalable form is the same single-sort shape:
    //      tag both streams, ONE sort per user, carry the last click µs
    //      backward (running last ignoreNulls) and the next click µs
    //      forward (running first ignoreNulls over the mirrored frame),
    //      then pick the smaller µs-exact gap row-locally — no |gap|<τ
    //      range join, no candidate fan-out (a purchase costs one row no
    //      matter how many clicks surround it). Equal gaps resolve to
    //      'before'; a same-instant click sorts before the purchase
    //      ('click' < 'purchase' at equal ts) so it lands in the backward
    //      frame with gap 0 and wins deterministically. ----
    "join14_nearest" -> ((s, d) => {
      val e = load(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), unix_micros(col("ts")).as("us"))
      val wB = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_type").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_type").asc, col("event_id").asc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val clickUs = when(col("event_type") === "click", col("us"))
      val t = e
        .withColumn("prev_us", last(clickUs, ignoreNulls = true).over(wB))
        .withColumn("next_us", first(clickUs, ignoreNulls = true).over(wF))
        .filter(col("event_type") === "purchase" &&
          (col("prev_us").isNotNull || col("next_us").isNotNull))
      val back = col("us") - col("prev_us")
      val fwd = col("next_us") - col("us")
      val pickBefore = col("prev_us").isNotNull &&
        (col("next_us").isNull || back <= fwd)
      ordered(t.select(
        col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"),
        timestamp_micros(when(pickBefore, col("prev_us"))
          .otherwise(col("next_us"))).as("click_ts"),
        when(pickBefore, lit("before")).otherwise(lit("after")).as("direction"),
        when(pickBefore, back).otherwise(fwd).as("gap_us")))
    }),

    // ---- GAP-1: date-spine gap fill — zero-filled daily counts per
    //      priority, the reporting op that turns sparse facts into a
    //      dense series. The spine is generated (GraftSequence-shaped
    //      leaf via `sequence` + explode), crossed with the tiny priority
    //      dimension, and left-joined to the aggregated facts: the cross
    //      product is dims × days (bounded), never fact-proportional. ----
    "gap1" -> ((s, d) => {
      val o = load(s, d, "orders")
      val day = col("o_orderdate").cast("date")
      val daily = o.groupBy(col("o_orderpriority").as("prio"), day.as("d"))
        .agg(count(lit(1)).as("n"))
      val spine = o.agg(min(day).as("lo"), max(day).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
      val prios = o.select(col("o_orderpriority").as("prio")).distinct()
      ordered(spine.crossJoin(broadcast(prios))
        .join(daily, Seq("prio", "d"), "left")
        .select(col("prio"), col("d"), coalesce(col("n"), lit(0L)).as("n")))
    }),

    // ---- SEQ-1: custom-plan date spine (GAP-1's generator swapped for
    //      the §4.3 extension chain, made oracle-gated): the spine rows
    //      come from [[graft.plans.GraftSequence]] — custom LogicalPlan
    //      leaf → PushFilterIntoGraftSequence folds the id bounds into
    //      the leaf (source-level pushdown: pruned days are never
    //      GENERATED, the DSv2-pushdown shape) → GraftStrategy →
    //      GraftSequenceExec. January 1995's 31 days zero-filled against
    //      daily order counts; the oracle builds the identical spine from
    //      DuckDB's range(). Exercising the whole chain under the
    //      driver's hash gate is the point — PlanSpec already guards the
    //      rule/strategy seams in isolation. ----
    "seq_spine" -> ((s, d) => {
      val o = load(s, d, "orders")
      val spine = graft.plans.GraftSequence.df(s, 0, 366)
        .filter(col("id") < 31) // folded into the leaf by the rule
        .select(date_add(lit("1995-01-01").cast("date"), col("id").cast("int")).as("d"))
      val daily = o.groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(count(lit(1)).as("n"))
      ordered(spine.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n"), lit(0L)).as("n_orders")))
    }),

    // ---- FZJ-1: fuzzy join / record linkage — name pairs within edit
    //      distance 1 (equal length ⟹ hamming ≤ 1), the typo-tolerant
    //      entity-matching op an ingestion pipeline runs against its OLTP
    //      read-back. Blocking is the DELETION NEIGHBORHOOD: each name
    //      emits one key per position (the name with that position
    //      removed); two equal-length names share the key at position i
    //      iff they agree everywhere else, so the (i, key) equi-join's
    //      candidate set is EXACTLY the answer set — no false candidates
    //      to verify away. Prefix/half-key blocking degenerates here
    //      (every name shares the "Customer#" prefix); the deletion
    //      neighborhood is immune to shared affixes. Cost: a len×
    //      posting blowup, the standard spell-index trade; buckets stay
    //      tiny because a bucket holds only rows identical off one
    //      position. ----
    "fzj1" -> ((s, d) => {
      val p = fzjPairs(load(s, d, "customer"))
      ordered(p.select(col("c1"), col("c2"), col("lev")))
    }),

    // ---- FZJ-CLUSTER: fuzzy-match ENTITY ASSIGNMENT — the linear-output
    //      scale path for fzj1. The ×10 clique probe (SURVEY §4.4.8) shows
    //      the pair LIST going quadratic on duplicate-heavy corpora (every
    //      name with k copies emits k·(k-1)/2 rows); downstream consumers
    //      (golden-record election, dedup retention) only need one row per
    //      record with its entity id. Formulation: connected components
    //      over the edit-distance-1 graph via the same Hash-Min label
    //      propagation as ddp_cluster — output is one row per customer,
    //      entity_id = min custkey in the component, regardless of how
    //      clique-heavy the graph gets. ----
    "fzj_cluster" -> ((s, d) => {
      val c = load(s, d, "customer")
      val edges = fzjPairs(c).select(col("c1").as("d1"), col("c2").as("d2"))
      LlmOps.clusterAssign(c.select(col("c_custkey").as("doc_id")), edges)
        .select(col("doc_id").as("c_custkey"),
          col("cluster_id").as("entity_id"), col("is_keeper"))
    }),

    // ---- FZJ-JW: Jaro–Winkler similarity scoring (`fzj_jw`) — the
    //      entity-resolution rung fzj1's edit-distance-1 gate can't
    //      reach: transposition- and suffix-noise-tolerant, prefix-
    //      weighted the way human naming errors are distributed. Measure
    //      = the codegen'd [[graft.functions.JaroWinkler]] expression,
    //      semantics pinned to DuckDB's NATIVE jaro_winkler_similarity
    //      (the oracle); scored over the DISTINCT part-name domain with
    //      per-name part counts joined back (the entity-match weight).
    //      JW has no lossless equi-key blocking, so the pair generation
    //      is an explicit broadcast self-pair of the name DOMAIN — a
    //      vocabulary-sized relation by construction (64 names at ANY
    //      SF: the corpus collapses via one map-side-combined distinct
    //      first), never the data-sized table; at 100 TB the domain
    //      pair count is still |vocab|², and a corpus whose name domain
    //      IS data-sized needs fzj1's blocking family instead. Threshold
    //      compares dec4-both-sides (§5.3); the half-grid boundary set
    //      was checked empty on this measure's rational value domain. ----
    "fzj_jw" -> ((s, d) => {
      val names = load(s, d, "part")
        .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("cnt"))
      val a = names.select(col("name").as("n1"), col("cnt").as("cnt1"))
      val b = names.select(col("name").as("n2"), col("cnt").as("cnt2"))
      val jw = graft.functions.GraftFunctions.jaro_winkler(col("n1"), col("n2"))
      ordered(a.join(broadcast(b), col("n1") < col("n2"))
        .withColumn("jwv", jw)
        .filter(dec4(col("jwv")) >= dec4(lit(0.8)))
        .select(col("n1"), col("n2"), col("cnt1"), col("cnt2"),
          dec4S(col("jwv")).as("jw")))
    }),

    // ---- MRG-1: upsert / latest-record-wins merge — the [REF] warehouse
    //      load + OLTP read-back shape (bidirectional PostgreSQL edge,
    //      Untitled Diagram.drawio:88-98) as a declarative operator: a
    //      delta batch overrides matching base keys, everything else
    //      carries through. The delta here is derived deterministically
    //      from orders (keys % 7 == 0, price bumped, status 'U') so the
    //      oracle sees the identical inputs. One shuffle by merge key;
    //      at 100 TB the base would be bucketed by key so only the delta
    //      shuffles. ----
    "mrg1" -> ((s, d) => {
      val o = load(s, d, "orders")
      val base = o.select(col("o_orderkey"), col("o_orderstatus"),
        dec(col("o_totalprice")).as("price"), lit(0).as("version"))
      val delta = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          dec(col("o_totalprice") + 100.0).as("price"), lit(1).as("version"))
      val w = Window.partitionBy(col("o_orderkey")).orderBy(col("version").desc)
      ordered(base.unionAll(delta)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), cstr(col("price")).as("price")))
    }),

    // ---- SUBQ-1: scalar + correlated subqueries ----
    "subq1" -> ((s, d) => {
      load(s, d, "orders").createOrReplaceTempView("orders")
      load(s, d, "customer").createOrReplaceTempView("customer")
      ordered(s.sql(
        """SELECT c_custkey, c_name
          |FROM customer c
          |WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
          |                   WHERE c2.c_nationkey = c.c_nationkey)
          |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          |              AND o.o_totalprice > (SELECT AVG(o_totalprice) FROM orders))
          |""".stripMargin))
    }),

    // ---- JOIN-12: LATERAL correlated subquery — "for each customer,
    //      their single most expensive order": the per-row dependent
    //      subquery shape analysts write naturally. Catalyst decorrelates
    //      the LIMIT 1 subquery into a window-style per-key top-1 over an
    //      equi-join — declarative in, scalable plan out; inner LATERAL
    //      also drops customers with no orders, like the join it
    //      decorrelates to. ----
    "join12_lateral" -> ((s, d) => {
      load(s, d, "customer").createOrReplaceTempView("customer")
      load(s, d, "orders").createOrReplaceTempView("orders")
      ordered(s.sql(
        """SELECT c.c_custkey, o.o_orderkey, o.total_price
          |FROM customer c,
          |LATERAL (
          |  SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(38,4)) AS STRING) AS total_price
          |  FROM orders WHERE o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1
          |) o
          |""".stripMargin))
    }),

    // ---- SUBQ-2: RECURSIVE CTE (transitive closure / hierarchy walk) —
    //      the iterate-to-fixpoint operator SQL engines express as WITH
    //      RECURSIVE, supported natively by Spark 4. The hierarchy is
    //      derived deterministically from customer (parent(k) = k div 2, a
    //      binary tree rooted at key 0) so both engines see identical
    //      edges; the query walks root→leaves and profiles each depth.
    //      Execution is breadth-first: each iteration joins the previous
    //      frontier against the edge relation — the same scalable frontier
    //      shape as clusterAssign, but engine-managed. ----
    "subq2_rec" -> ((s, d) => {
      load(s, d, "customer").createOrReplaceTempView("customer")
      ordered(s.sql(
        """WITH RECURSIVE anc(node, depth) AS (
          |  SELECT c_custkey, 0 FROM customer WHERE c_custkey = 0
          |  UNION ALL
          |  SELECT c.c_custkey, a.depth + 1
          |  FROM customer c JOIN anc a ON c.c_custkey div 2 = a.node
          |  WHERE c.c_custkey > 0
          |)
          |SELECT depth, count(1) AS n_nodes, min(node) AS min_key, max(node) AS max_key
          |FROM anc GROUP BY depth
          |""".stripMargin))
    }),

    // ---- WIN-1: ranking window functions ----
    "win1" -> ((s, d) => {
      val o = load(s, d, "orders")
      val c = load(s, d, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      ordered(o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"),
          decS(col("o_totalprice")).as("total_price"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"),
          ntile(4).over(w).as("quartile"))
        .filter(col("rn") <= 10))
    }),

    // ---- WIN-2: analytic window functions (lag/lead/first/last) ----
    "win2" -> ((s, d) => {
      val e = load(s, d, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      ordered(e.select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        first(col("event_type")).over(w).as("first_type"),
        last(col("event_type")).over(w).as("last_type")))
    }),

    // ---- WIN-3: explicit frames (running / sliding / range) ----
    "win3" -> ((s, d) => {
      val e = load(s, d, "events")
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val running = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sliding = wo.rowsBetween(-2, 0)
      val wr = Window.partitionBy(col("user_id")).orderBy(col("value").asc)
        .rangeBetween(-5L, 0L)
      ordered(e.select(col("user_id"), col("event_id"),
        cstr(sum(dec(col("value"))).over(running).cast(dt)).as("running_sum"),
        dec4S(sum(dec(col("value"))).over(sliding).cast("double") /
          count(lit(1)).over(sliding)).as("sliding_avg"),
        count(lit(1)).over(wr).as("n_in_band")))
    }),

    // ---- SRT-1: global multi-key sort + limit (TakeOrderedAndProject) ----
    "srt1" -> ((s, d) => {
      val o = load(s, d, "orders")
      o.select(col("o_orderkey"), dec(col("o_totalprice")).as("tp_num"),
        col("o_orderdate"))
        .orderBy(col("tp_num").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), cstr(col("tp_num")).as("total_price"),
          col("o_orderdate"))
    }),

    // ---- SRT-2: per-group top-k via ranking window ----
    "srt2" -> ((s, d) => {
      val o = load(s, d, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      ordered(o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          decS(col("o_totalprice")).as("total_price")))
    }),

    // ---- SET-1: union all / union distinct ----
    "set1_union_all" -> ((s, d) => {
      val su = load(s, d, "supplier").select(col("s_nationkey").cast("int").as("nkey"))
      val c = load(s, d, "customer").select(col("c_nationkey").cast("int").as("nkey"))
      ordered(su.unionAll(c).groupBy(col("nkey")).agg(count(lit(1)).as("n")))
    }),
    "set1_union_distinct" -> ((s, d) => {
      val su = load(s, d, "supplier").select(col("s_name").as("name"))
      val c = load(s, d, "customer").select(col("c_name").as("name"))
      ordered(su.union(c).distinct())
    }),

    // ---- SET-2: intersect / except (+ all variant) ----
    "set2_intersect" -> ((s, d) => {
      val su = load(s, d, "supplier").select(col("s_nationkey").cast("int").as("nkey"))
      val c = load(s, d, "customer").select(col("c_nationkey").cast("int").as("nkey"))
      ordered(su.intersect(c))
    }),
    "set2_except" -> ((s, d) => {
      val n = load(s, d, "nation").select(col("n_nationkey").cast("int").as("nkey"))
      val su = load(s, d, "supplier").select(col("s_nationkey").cast("int").as("nkey"))
      ordered(n.except(su))
    }),
    "set2_except_all" -> ((s, d) => {
      val o = load(s, d, "orders").select(col("o_orderstatus").as("status"))
      val f = load(s, d, "orders").filter(col("o_totalprice") > 10000.0)
        .select(col("o_orderstatus").as("status"))
      ordered(o.exceptAll(f).groupBy(col("status")).agg(count(lit(1)).as("n")))
    }),

    // ---- DDP-1: exact dedup, deterministic keeper (min event_id) ----
    "ddp1" -> ((s, d) => {
      val e = load(s, d, "events")
      ordered(e.groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("keeper_event"), count(lit(1)).as("n_dups")))
    }),

    // ---- PVT-1: pivot events: rows=user, cols=event_type ----
    "pvt1" -> ((s, d) => {
      val e = load(s, d, "events")
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = e.groupBy(col("user_id")).pivot("event_type", types).count()
      ordered(p.select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*))
    }),

    // ---- PVT-2: UNPIVOT (pivot's inverse) — wide measure columns to
    //      long (key, measure, value) rows, the shape feature stores and
    //      metric pipelines ingest. Values are pre-rendered to the
    //      canonical decimal string so the unified value column needs no
    //      cross-measure type coercion. Narrow ×3 fan-out per row, no
    //      shuffle; the oracle spells it as the portable UNION ALL. ----
    "pvt2_unpivot" -> ((s, d) => {
      // r15 probe, NOT kept: repartitioning after the single-row-group
      // scan (guide §2.5's unsplittable-input move) widened every stage
      // to 64 tasks but left wall time flat (3.2 s both ways) while
      // inflating total CPU ~20× — the per-row cost here is BigDecimal→
      // string rendering, which is allocation-bound and scales poorly
      // across 32 concurrent tasks; the narrow 3-task form is
      // memory-bandwidth-friendly and no slower. Reverted.
      val li = load(s, d, "lineitem")
      // NOT pinned before the harness total-order, unlike jsn2_variant:
      // measured 5.9 s pinned vs 3.0 s recomputed — this projection is
      // cheap per row and its OUTPUT is 1.8 M fat rendered strings, so
      // serializing it costs more than the sort-sampling recompute. The
      // pin-before-sort lever pays only when per-row compute dominates
      // output bytes.
      ordered(li.select(col("l_orderkey"), col("l_linenumber"),
          decS(col("l_quantity")).as("quantity"),
          decS(col("l_extendedprice")).as("extendedprice"),
          decS(col("l_discount")).as("discount"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "measure", "value"))
    }),

    // ---- EXPL-1: explode tokenized text into words ----
    "expl1" -> ((s, d) => {
      val doc = load(s, d, "documents")
      doc.select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(50)
    }),

    // ---- DQ-1: single-pass data-quality audit — the profile/constraint
    //      gate every ingestion runs before publishing a partition: row
    //      count, per-column null counts, key-uniqueness violation count,
    //      domain cardinality, range bounds, exact control total, and a
    //      constraint-violation tally, all from ONE scan + one 1-row
    //      aggregate (no per-check passes — at 100 TB each extra pass is
    //      a full table read). The two exact count-distincts expand the
    //      aggregate 2×; on wider audits the approx path (agg_approx) is
    //      the declared high-cardinality switch. ----
    "dq_audit" -> ((s, d) => {
      val o = load(s, d, "orders")
      o.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("o_custkey"))).as("n_null_custkey"),
        (count(lit(1)) - count(col("o_orderdate"))).as("n_null_orderdate"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_dup_orderkey"),
        countDistinct(col("o_orderstatus")).as("n_status_values"),
        min(col("o_orderdate")).as("min_orderdate"),
        max(col("o_orderdate")).as("max_orderdate"),
        dsumS(col("o_totalprice")).as("sum_totalprice"),
        sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("n_nonpos_price"))
    }),

    // ---- RCN-1: snapshot reconciliation — the acceptance check after a
    //      migration/backfill: key-level diff of two table versions into
    //      added / removed / changed / unchanged classes with counts and
    //      value deltas. The "new" snapshot is derived deterministically
    //      from orders (every 5th key dropped ≡ removed, every 7th
    //      repriced ≡ changed, shifted keys appended ≡ added) so the
    //      oracle sees identical inputs. One full-outer join by key +
    //      one aggregate; at 100 TB both snapshots would be bucketed by
    //      key so the join is exchange-free, and the class counts arrive
    //      map-side combined. ----
    "recon" -> ((s, d) => {
      val o = load(s, d, "orders")
      val base = o.select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("v"))
      val next = o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey").as("k"),
          dec(when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 50.0)
            .otherwise(col("o_totalprice"))).as("v"))
        .unionAll(o.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 100000000L).as("k"), dec(col("o_totalprice")).as("v")))
      val j = base.select(col("k"), col("v").as("v_base"))
        .join(next.select(col("k"), col("v").as("v_next")), Seq("k"), "full_outer")
      val cls = when(col("v_base").isNull, "added")
        .when(col("v_next").isNull, "removed")
        .when(col("v_base") =!= col("v_next"), "changed")
        .otherwise("unchanged")
      ordered(j.groupBy(cls.as("class")).agg(
        count(lit(1)).as("n"),
        cstr(sum(coalesce(col("v_next"), lit(0).cast(dt)) -
          coalesce(col("v_base"), lit(0).cast(dt))).cast(dt)).as("value_delta")))
    }),

    // ---- HIST-1: fixed-width histogram of a measure — the distribution
    //      profile behind skew detection and bucket sizing. The bucket id
    //      is pure arithmetic (floor(x/w) clamped to [0,19]), so the whole
    //      query is one map-side-combined groupBy over a narrow scan; no
    //      window, no sort beyond the 20-row output. width_bucket is
    //      avoided deliberately: DuckDB and Spark disagree on its edge
    //      semantics, floor-division is bit-identical in both. ----
    "agg_hist" -> ((s, d) => {
      val o = load(s, d, "orders")
      val bucket = least(greatest(floor(col("o_totalprice") / lit(30000.0)), lit(0.0)),
        lit(19.0)).cast("int")
      ordered(o.groupBy(bucket.as("bucket")).agg(
          count(lit(1)).as("n_orders"),
          dsumS(col("o_totalprice")).as("sum_price"))
        .withColumn("bucket_lo", (col("bucket").cast("long") * 30000L)))
    }),

    // ---- MAN-1: publish manifest — the artifact a pipeline emits (and a
    //      downstream consumer validates) when a dataset version ships:
    //      one row per table with its row count and column count. Column
    //      counts come from the ACTUAL loaded schema, so the oracle's
    //      hardcoded expectations double as a schema-drift tripwire. At
    //      100 TB the counts come from table metadata / commit stats, not
    //      a scan — here each count is one metadata-cheap aggregate. ----
    "manifest" -> ((s, d) => {
      ordered(graft.core.Tables.names.map { n =>
        val df = load(s, d, n)
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(n).as("table_name"), col("n_rows"),
            lit(df.columns.length).as("n_cols"))
      }.reduce(_ unionByName _))
    }),

    // ---- AGG-14: mode / most-frequent value per group — the categorical
    //      profile statistic (imputation default, dominant-category
    //      detection). Deterministic tie-break: smallest value wins.
    //      Counts collapse to |groups|×|domain| rows before the top-1
    //      window, so the WindowGroupLimit runs on a ~15-row relation —
    //      the shuffle is the map-side-combined count, nothing else. ----
    "agg_mode" -> ((s, d) => {
      val o = load(s, d, "orders")
      val counts = o.groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("n").desc, col("o_orderstatus").asc)
      ordered(counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderpriority"), col("o_orderstatus").as("mode_status"),
          col("n").as("mode_n")))
    }),

    // ---- AGG-15: incremental aggregate maintenance WITH RETRACTIONS —
    //      AGG-12 handles insert-only deltas; real CDC deltas also DELETE,
    //      and that splits the aggregate family in two: counts and sums
    //      are groups under subtraction (maintained exactly from signed
    //      partials, cost ∝ |delta|), but MAX is only a monoid — a
    //      retraction of the current max cannot be repaired from the
    //      summary, so delete-affected groups recompute max from the new
    //      snapshot (DIFFERENTIAL REPAIR: the recompute is scoped to
    //      affected groups — at 100 TB that is a partition-pruned scan of
    //      the few groups with deletes, not a full rebuild; insert-only
    //      groups stay fully incremental via greatest(base, delta)). The
    //      shipped `repair_path` column makes the plan's choice visible.
    //      Oracle = the plain full aggregate over the new snapshot: the
    //      merge must be indistinguishable from recomputation (AGG-12's
    //      certification pattern). ----
    "inc_agg_del" -> ((s, d) => {
      val o = load(s, d, "orders").select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("prio"), col("o_totalprice").as("p"))
      val delPrios = Seq("1-URGENT", "2-HIGH")
      val isIns = pmod(col("k"), lit(20)) === 0
      val isDel = pmod(col("k"), lit(20)) === 5 && col("prio").isin(delPrios: _*)
      val oldSnap = o.filter(!isIns)
      val newSnap = o.filter(!isDel)
      val base = oldSnap.groupBy(col("prio")).agg(
        count(lit(1)).as("n0"), sum(dec(col("p"))).as("s0"), max(col("p")).as("m0"))
      val delta = o.filter(isIns).select(col("prio"), col("p"), lit(1).as("sgn"))
        .unionByName(o.filter(isDel).select(col("prio"), col("p"), lit(-1).as("sgn")))
      val dAgg = delta.groupBy(col("prio")).agg(
        sum(col("sgn")).cast("long").as("dn"),
        sum(when(col("sgn") === 1, dec(col("p"))).otherwise(-dec(col("p")))).as("ds"),
        max(when(col("sgn") === 1, col("p"))).as("mi"),
        max(when(col("sgn") === -1, lit(1)).otherwise(0)).as("has_del"))
      // Differential repair relation: new-snapshot max for ONLY the
      // delete-affected groups (broadcast both tiny sides).
      val repair = newSnap.join(
          broadcast(dAgg.filter(col("has_del") === 1).select(col("prio"))), Seq("prio"))
        .groupBy(col("prio")).agg(max(col("p")).as("mr"))
      ordered(base.join(dAgg, Seq("prio"), "full_outer")
        .join(broadcast(repair), Seq("prio"), "left")
        .select(col("prio"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          cstr((coalesce(col("s0"), lit(0).cast(dt)) +
            coalesce(col("ds"), lit(0).cast(dt))).cast(dt)).as("sum_price"),
          decS(when(coalesce(col("has_del"), lit(0)) === 1, col("mr"))
            .otherwise(greatest(col("m0"), coalesce(col("mi"), col("m0")))))
            .as("max_price"),
          when(coalesce(col("has_del"), lit(0)) === 1, lit("repair"))
            .otherwise(lit("incremental")).as("repair_path")))
    }),

    // ---- IVM-2: incremental JOIN maintenance (`inc_join`) — AGG-12's
    //      delta discipline applied to a two-table join view
    //      V = orders ⋈ lineitem: with ΔO (orders dated ≥ cutoff) and ΔL
    //      (lineitems shipped ≥ cutoff — independent of ΔO, because facts
    //      arrive late against old orders), the view delta factorizes as
    //      ΔV = ΔO ⋈ L  ∪  O_old ⋈ ΔL — never a re-join of the full
    //      tables. Each term is tagged with its derivation path and the
    //      oracle recomputes the SAME tags declaratively over the full
    //      join (o new → 'delta_o'; else l new → 'old_o_delta_l'; else
    //      'base'), so the hash match certifies the three terms form a
    //      DISJOINT, COMPLETE partition of the joined pairs — the
    //      correctness core of join IVM (a double-counted or dropped
    //      (ΔO,ΔL) pair breaks the tag censuses). At 100 TB: the base
    //      term is READ from the stored view (here recomputed only so
    //      the oracle sees the full updated view), both delta joins
    //      BROADCAST the day-sized delta against the big side — cost
    //      ∝ |Δ| · join fan-out, not ∝ history; when a delta outgrows
    //      broadcast, the stored base/view is bucketed by orderkey so
    //      the shuffle lands only on the delta side. ----
    "inc_join" -> ((s, d) => {
      val cutoff = lit("2001-06-01").cast("timestamp")
      val o = load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
      val oOld = o.filter(col("o_orderdate") < cutoff)
      val oNew = o.filter(col("o_orderdate") >= cutoff)
      val lOld = li.filter(col("l_shipdate") < cutoff)
      val lNew = li.filter(col("l_shipdate") >= cutoff)
      // base: yesterday's materialized view (recomputed here, read there)
      val base = oOld.join(lOld, col("o_orderkey") === col("l_orderkey"))
        .withColumn("path", lit("base"))
      // ΔO against the FULL lineitem side (old ∪ new in one probe)
      val dO = li.join(broadcast(oNew), col("o_orderkey") === col("l_orderkey"))
        .withColumn("path", lit("delta_o"))
      // late-arriving facts against old orders only (ΔO⋈ΔL already above)
      val dL = oOld.join(broadcast(lNew), col("o_orderkey") === col("l_orderkey"))
        .withColumn("path", lit("old_o_delta_l"))
      ordered(base.unionByName(dO).unionByName(dL)
        .groupBy(col("path"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("n_rows"),
          dsumS(col("l_extendedprice")).as("revenue")))
    }),

    // ---- DQ-2: referential-integrity audit (`dq_refs`) — the
    //      cross-table half of DQ-1's single-table gate: every declared
    //      foreign key probed for orphans (child rows whose parent is
    //      missing), one audit row per relationship. Each check is ONE
    //      left join of the child's key column against the broadcast
    //      parent key set + a counting aggregate — scan-proportional per
    //      relationship, no child-side shuffle; at 100 TB the parent key
    //      set rides as a bloom/bucketed probe and the whole audit folds
    //      into the same pass as the DQ-1 profile (each extra pass is a
    //      full table read). A healthy warehouse reports ZERO orphans —
    //      the audit firing on injected corruption is spec-pinned. ----
    "dq_refs" -> ((s, d) => {
      def ref(rel: String, fact: DataFrame, fk: String,
              dim: DataFrame, pk: String): DataFrame =
        fact.select(col(fk)).join(
            broadcast(dim.select(col(pk)).distinct()),
            col(fk) === col(pk), "left")
          .agg(count(lit(1)).as("n_child"),
            count(when(col(pk).isNull, 1)).as("n_orphan"))
          .select(lit(rel).as("relationship"), col("n_child"), col("n_orphan"))
      val li = load(s, d, "lineitem"); val o = load(s, d, "orders")
      val c = load(s, d, "customer"); val su = load(s, d, "supplier")
      val na = load(s, d, "nation"); val re = load(s, d, "region")
      val pa = load(s, d, "part")
      ordered(Seq(
        ref("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        ref("lineitem.l_partkey->part", li, "l_partkey", pa, "p_partkey"),
        ref("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
        ref("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        ref("customer.c_nationkey->nation", c, "c_nationkey", na, "n_nationkey"),
        ref("supplier.s_nationkey->nation", su, "s_nationkey", na, "n_nationkey"),
        ref("nation.n_regionkey->region", na, "n_regionkey", re, "r_regionkey"))
        .reduce(_ unionByName _))
    }),

    // ---- DQ-6: header/detail consistency audit (`dq_consistency`) — the
    //      cross-table DERIVED-VALUE check DQ-1/DQ-2 don't cover (nulls
    //      and orphans can be clean while the NUMBERS disagree): does the
    //      order header total match the sum of its lineitem revenue?
    //      Reports the relative-discrepancy census (no_detail / <1% /
    //      1–10% / 10–50% / ≥50% buckets, tie-safe dec4 ratio before
    //      thresholding) with per-bucket header vs detail revenue sums —
    //      the reconciliation evidence a finance close runs. On THIS
    //      corpus the identity provably fails everywhere (0 exact
    //      matches, median rel-diff 57%, 257 headers with no lines) —
    //      which is the audit's point: it MEASURES the contract instead
    //      of assuming it. Shape: one map-side-combined detail rollup
    //      (order-keyed) + one key join + a 5-group census; at 100 TB
    //      header and detail are bucketed by orderkey so the join is
    //      exchange-free and the audit folds into the nightly close. ----
    "dq_consistency" -> ((s, d) => {
      val o = load(s, d, "orders")
        .select(col("o_orderkey"), dec(col("o_totalprice")).as("hdr"))
      val lr = load(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(dsum(col("l_extendedprice")).as("det"))
      val j = o.join(lr, col("o_orderkey") === col("l_orderkey"), "left")
      val ratio = dec4(abs(col("hdr") - col("det")).cast("double") /
        col("hdr").cast("double")).cast("double")
      val bucket = when(col("det").isNull, "no_detail")
        .when(ratio < 0.01, "lt_1pct")
        .when(ratio < 0.10, "1_to_10pct")
        .when(ratio < 0.50, "10_to_50pct")
        .otherwise("ge_50pct")
      ordered(j.groupBy(bucket.as("bucket")).agg(
        count(lit(1)).as("n_orders"),
        cstr(sum(col("hdr")).cast(dt)).as("header_sum"),
        cstr(sum(coalesce(col("det"), lit(0).cast(dt))).cast(dt)).as("detail_sum")))
    }),

    // ---- DQ-5: rule-based quarantine router (`dq_quarantine`) — the
    //      dead-letter-queue gate of an ingest pipeline: every incoming
    //      row is annotated with the SET of validation rules it fails
    //      (fixed rule order, comma-joined) and routed clean/quarantine;
    //      the output is the rule-COMBINATION census (which rule sets
    //      co-fire, with counts and a value checksum per set) — the
    //      triage report an on-call reads, strictly more informative than
    //      DQ-1's per-rule tallies because combinations reveal common
    //      causes (a feed whose rows fail null_cust AND neg_price
    //      together points at truncated records, not two bugs). Dirty
    //      feed synthesized deterministically (IMP-1's the-gate-provably-
    //      fires pattern): every 13th key's price negated, every 17th's
    //      custkey nulled, every 23rd's custkey shifted out of the dim —
    //      overlapping moduli make multi-rule combinations exist by
    //      construction. Shape: ONE scan + one BROADCAST customer-key
    //      join (referential rule) + a map-side-combined census over the
    //      ≤2³-row combination space; at 100 TB the dim probe rides a
    //      bloom like DCN-2 and the quarantined rows fan to the DLQ sink
    //      in the same pass — the census IS this query. ----
    "dq_quarantine" -> ((s, d) => {
      val c = load(s, d, "customer").select(col("c_custkey"))
      val feed = load(s, d, "orders").select(
        col("o_orderkey").as("k"),
        when(col("o_orderkey") % 13 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("price"),
        when(col("o_orderkey") % 17 === 0, lit(null).cast("long"))
          .when(col("o_orderkey") % 23 === 0, col("o_custkey") + 10000000L)
          .otherwise(col("o_custkey")).as("cust"))
      val probed = feed.join(broadcast(c),
        col("cust") === col("c_custkey"), "left")
      val fails = array(
        when(col("price") <= 0.0, lit("neg_price")),
        when(col("cust").isNull, lit("null_cust")),
        when(col("cust").isNotNull && col("c_custkey").isNull, lit("orphan_cust")))
      ordered(probed
        .withColumn("failed_rules",
          concat_ws(",", filter(fails, x => x.isNotNull)))
        .groupBy(col("failed_rules"))
        .agg(count(lit(1)).as("n_rows"),
          dsumS(col("price")).as("sum_price"))
        .withColumn("verdict",
          when(col("failed_rules") === "", "clean").otherwise("quarantine")))
    }),

    // ---- GDPR-1: deletion-list propagation (right-to-be-forgotten) —
    //      the governance op every training-data pipeline must run: a
    //      deterministic deletion list (entity_id % 17 == 3, the ~6%
    //      erasure-request stand-in) anti-joined out of every fact table
    //      that carries the entity, with a per-table audit row (before /
    //      after / removed) — the evidence record a compliance process
    //      files. The scrub itself is a BROADCAST left_anti per table:
    //      scan-proportional, no shuffle of the fact side — exactly how
    //      a deletion sweep runs inside the nightly compaction rewrite.
    //      At 100 TB the alternatives are (a) this anti-join folded into
    //      the next compaction pass (pay one rewrite you were paying
    //      anyway) or (b) table-format deletion vectors (logical delete
    //      now, physical at compaction) — both use this same anti-join
    //      shape, only the materialization timing differs. ----
    "forget_user" -> ((s, d) => {
      val ev = load(s, d, "events")
      val or = load(s, d, "orders")
      def audit(name: String, df: DataFrame, keyName: String): DataFrame = {
        // A materialized deletion-request list (distinct entity ids), not
        // a predicate: the scrub must be the list-driven anti-join shape,
        // because real erasure requests arrive as a list.
        val dl = df.select(col(keyName).as("del_id"))
          .filter(pmod(col("del_id"), lit(17)) === 3).distinct()
        val scrubbed = df.join(broadcast(dl),
          col(keyName) === col("del_id"), "left_anti")
        df.agg(count(lit(1)).as("n_before"))
          .crossJoin(scrubbed.agg(count(lit(1)).as("n_after")))
          .select(lit(name).as("table_name"), col("n_before"), col("n_after"),
            (col("n_before") - col("n_after")).as("n_removed"))
      }
      ordered(audit("events", ev, "user_id")
        .unionByName(audit("orders", or, "o_custkey")))
    }),

    // ---- ANOM-1: robust outlier detection (median/MAD) — the per-group
    //      anomaly gate a data-quality pipeline runs on every numeric
    //      measure. Mean/stddev z-scores break on the very outliers they
    //      hunt (one huge value inflates σ until nothing is 3σ out);
    //      median + MAD have a 50% breakdown point. Modified z-score
    //      |x−med| > 3·1.4826·MAD (1.4826 = 1/Φ⁻¹(3/4) makes MAD a
    //      consistent σ estimator under normality). Three scan-level
    //      aggregations + two BROADCAST joins of a |groups|-row relation —
    //      no window over the fact table, so the shape survives any group
    //      cardinality; exact percentile switches to approx_percentile at
    //      100 TB per-group value volume (AGG-11's declared trade). Both
    //      comparison sides dec4-rounded so the flag threshold can never
    //      sit on an engine-dependent double tie (§5.3). ----
    "anomaly_mad" -> ((s, d) => {
      val o = load(s, d, "orders")
        .select(col("o_orderpriority").as("prio"), col("o_totalprice").as("x"))
      val med = o.groupBy(col("prio"))
        .agg(expr("percentile(x, 0.5)").as("med"))
      val mad = o.join(broadcast(med), Seq("prio"))
        .withColumn("adev", abs(col("x") - col("med")))
        .groupBy(col("prio"))
        .agg(min(col("med")).as("med"), expr("percentile(adev, 0.5)").as("mad"))
      val out = (dec4(abs(col("x") - col("med"))) >
        dec4(lit(4.4478) * col("mad")))
      ordered(o.join(broadcast(mad), Seq("prio"))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"),
          dec4S(min(col("med"))).as("med"),
          dec4S(min(col("mad"))).as("mad"),
          count(when(out, 1)).as("n_out"),
          count(when(out && col("x") < col("med"), 1)).as("n_low"),
          count(when(out && col("x") > col("med"), 1)).as("n_high")))
    }),

    // ---- AGG-17: exact weighted median (`agg_wmedian`) — the
    //      quantity-weighted middle AGG-7's unweighted percentile can't
    //      see (a price carried by 50 units should pull the statistic 50×
    //      harder than a 1-unit line): per returnflag, the smallest price
    //      whose cumulative weight reaches half the group's total.
    //      Determinism hinges on the CUMSUM FRAME: the running weight uses
    //      the DEFAULT value-based RANGE frame (all price-ties share one
    //      cum — a ROWS frame would order ties arbitrarily and make
    //      per-row cums partitioning-dependent), weights are exact ints
    //      (l_quantity is integral), and the threshold test 2·cum ≥ W
    //      avoids fractional halves entirely; the min(price) over
    //      qualifying rows is then engine-independent. Shape: one
    //      per-group value sort (the same cost envelope as AGG-7's exact
    //      percentile — and the same declared 100 TB switch: weighted
    //      approx_percentile by repeating weight-scaled entries or a
    //      weighted t-digest); everything after is a \|groups\|-row
    //      aggregate. ----
    // ---- AGG-18: per-group OLS regression aggregates (`agg_regr`) —
    //      AGG-8's correlation family completed into the fit itself:
    //      slope/intercept/R² of price-on-quantity per returnflag, plus
    //      the pair count the regression actually used (regr_count's
    //      both-non-null semantics). Both engines compute from the same
    //      one-pass co-moment merges (slope = Sxy/Sxx, intercept from the
    //      means, R² = corr²), so the doubles agree far below the dec4
    //      rendering resolution at these operand magnitudes — the same
    //      determinism argument measured for AGG-8. One map-side-combined
    //      aggregate; nothing per-row leaves the scan. ----
    "agg_regr" -> ((s, d) => {
      val l = load(s, d, "lineitem")
      val (y, x) = (col("l_extendedprice"), col("l_quantity"))
      ordered(l.groupBy(col("l_returnflag")).agg(
        regr_count(y, x).as("n"),
        dec4S(regr_slope(y, x)).as("slope"),
        dec4S(regr_intercept(y, x)).as("intercept"),
        dec4S(regr_r2(y, x)).as("r2")))
    }),

    "agg_wmedian" -> ((s, d) => {
      // r15: two structural swaps over the r9 value-collapse form, values
      // bit-identical (oracle unchanged):
      //  1. The per-group cum windows (wt + cum over Window.partitionBy
      //     (flag)) ran ONE TASK PER GROUP — 3 tasks sorting ~200k rows
      //     each at any core count, and at 100 TB a group is data-sized.
      //     GlobalRank's two-pass distributed prefix (the rank_normalize
      //     shape) computes the same inclusive within-flag running weight
      //     from a balanced range shuffle: cum = gpref − base(flag) + pw,
      //     where base is the flag's first-row exclusive prefix attached
      //     by a |groups|-row broadcast.
      //  2. Prices carry as their exact scaled-long unscaled value
      //     floor(x·10⁴+0.5) (= dec(x)'s unscaled integer for a ≤2-decimal
      //     raw measure) instead of DECIMAL(38,4): (38,4) exceeds Spark's
      //     long-backed decimal width, so every group-key hash/compare was
      //     a BigDecimal op; the long key hashes/compares primitively and
      //     the decimal is reconstructed exactly at render (q/10⁴ has ≤4
      //     decimals — the division is exact).
      val li = load(s, d, "lineitem").select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") * lit(10000.0) + lit(0.5)).cast("long")
          .as("ps"),
        col("l_quantity").cast("long").as("w"))
      val perP = li.groupBy(col("flag"), col("ps")).agg(sum(col("w")).as("pw"))
      val withG = graft.operators.GlobalRank.attach(perP,
        Seq(col("flag").asc, col("ps").asc), None, Seq("pw" -> "gpref"))
      val bases = withG.groupBy(col("flag")).agg(
        min(col("gpref")).as("base"), sum(col("pw")).as("wt"))
      val cum = col("gpref") - col("base") + col("pw")
      ordered(withG.join(broadcast(bases), "flag")
        .filter(lit(2L) * cum >= col("wt"))
        .groupBy(col("flag"))
        .agg(min(col("ps")).as("mps"), max(col("wt")).as("w_total"))
        .select(col("flag"), col("w_total"),
          cstr((col("mps").cast(DecimalType(38, 0)) / lit(10000)).cast(dt))
            .as("wmedian")))
    }),

    // ---- AGG-16: trimmed & winsorized means (`agg_trimmed`) — ANOM-1's
    //      estimator counterpart: where the MAD gate FLAGS outliers, the
    //      robust location estimates SURVIVE them — the trimmed mean
    //      drops everything outside the per-group [p05, p95] band, the
    //      winsorized mean CLAMPS to it (keeps the row count, caps the
    //      influence) — the two standard fixes for a mean that a single
    //      fat-finger order can drag. Cuts are type-7 exact percentiles
    //      dec4-rounded before any comparison (quantile_bin's no-engine-
    //      tie rule), means are exact decimal sums / counts. Shape: one
    //      per-group percentile aggregate (at 100 TB: approx_percentile,
    //      AGG-11's declared trade) + a |groups|-row broadcast attach +
    //      ONE map-side-combined aggregate computing raw/trimmed/winsor
    //      in the same pass — never a pass per estimator. ----
    "agg_trimmed" -> ((s, d) => {
      val o = load(s, d, "orders")
        .select(col("o_orderpriority").as("prio"), col("o_totalprice").as("x"))
      val cuts = o.groupBy(col("prio"))
        .agg(dec4(percentile(col("x"), lit(0.05))).as("lo"),
          dec4(percentile(col("x"), lit(0.95))).as("hi"))
      val inb = dec(col("x")) >= col("lo") && dec(col("x")) <= col("hi")
      val wv = when(dec(col("x")) < col("lo"), col("lo"))
        .when(dec(col("x")) > col("hi"), col("hi"))
        .otherwise(dec(col("x")))
      ordered(o.join(broadcast(cuts), Seq("prio"))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"),
          cstr(min(col("lo"))).as("cut_lo"),
          cstr(min(col("hi"))).as("cut_hi"),
          count(when(inb, 1)).as("n_kept"),
          dec4S(sum(dec(col("x"))).cast("double") / count(lit(1)))
            .as("mean_raw"),
          dec4S(sum(when(inb, dec(col("x")))).cast("double") /
            count(when(inb, 1))).as("mean_trimmed"),
          dec4S(sum(wv).cast("double") / count(lit(1))).as("mean_winsor")))
    }),

    // ---- GRPH-1: trade-flow PageRank — iterative graph analytics beyond
    //      connectivity (DDP-CLUSTER/FZJ-CLUSTER are Hash-Min components;
    //      this is the importance-propagation loop): nodes = nations,
    //      directed edges supplier-nation → customer-nation weighted by
    //      lineitem count (a 4-table join distills the 600k-row fact table
    //      into a ≤625-row edge list — the standard graph-FROM-relational
    //      extraction), 3 fixed power iterations, damping 0.85. All
    //      arithmetic is FIXED-POINT INTEGER (ranks in units of 10⁻¹²,
    //      contribution = r·w div W, damping = 17·Σ div 20): exact int64,
    //      order-independent sums, bit-equal in any engine — no float
    //      accumulation to make iteration results order-dependent (§5.3;
    //      r·w ≤ 10¹²·|edges per node| stays far under 2⁶³). Per
    //      iteration: one edge⋈rank join + one groupBy — state is
    //      node-sized, work is edge-sized, exactly how a 1000-executor
    //      power iteration distributes (edges bucketed by src reuse one
    //      layout every iteration); rank mass lost to floor truncation and
    //      dangling nodes is declared semantics (no redistribution), as in
    //      most production implementations. Edge build pinned once;
    //      3 unrolled iterations keep lineage shallow — the checkpoint-per-
    //      round discipline of DDP-CLUSTER applies beyond ~10 rounds. ----
    // ---- GRPH-3: BFS hop distance (`graph_hops`) — shortest directed
    //      hop count from nation 0 over the GRPH-1 trade graph, ≤5 hops:
    //      the reachability/radius primitive behind dependency fan-out
    //      and influence-horizon questions, and the third iteration
    //      pattern in the graph family (GRPH-1 propagates mass, DDP-
    //      CLUSTER contracts labels, this RELAXES distances: per round
    //      dist'(v) = min(dist(v), 1 + min over in-edges of dist(u))).
    //      All-integer — nothing to drift. Per round: one edge⋈dist join
    //      + one min-groupBy, state node-sized, work edge-sized, each
    //      round's state eagerly pinned (the iterative-loop plan-growth
    //      rule). Oracle = DuckDB RECURSIVE with UNION (not UNION ALL:
    //      the dedup is what keeps a dense cyclic graph's path expansion
    //      bounded to |nodes|·hops rows). ----
    "graph_hops" -> ((s, d) => {
      val li = load(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val o = load(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("dst"))
      val su = load(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").cast("long").as("src"))
      val n = load(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("node"), col("n_name"))
      val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .select(col("src"), col("dst")).distinct()
        .pinned
      var dist = pin(n.select(col("node"),
        when(col("node") === 0L, 0).otherwise(lit(null)).cast("int").as("hop")))
      for (_ <- 1 to 5) {
        val via = edges.join(dist.filter(col("hop").isNotNull),
            col("src") === col("node"))
          .select(col("dst").as("node2"), (col("hop") + 1).as("cand"))
          .groupBy(col("node2")).agg(min(col("cand")).as("cand"))
        dist = pin(dist.join(via, col("node") === col("node2"), "left")
          .select(col("node"),
            when(col("hop").isNull, col("cand"))
              .when(col("cand").isNull, col("hop"))
              .otherwise(least(col("hop"), col("cand"))).as("hop")))
      }
      ordered(dist.join(broadcast(n), Seq("node"))
        .select(col("n_name"), col("hop")))
    }),

    "graph_pagerank" -> ((s, d) => {
      val li = load(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val o = load(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("dst"))
      val su = load(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").cast("long").as("src"))
      val n = load(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("node"), col("n_name"))
      val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        .pinned
      val N = 25L // nation table cardinality; 10^12 div N exact
      val r = pagerankFixedPoint(n.select(col("node")), edges,
        iters = 3, base = 1000000000000L / N, teleport = 150000000000L / N)
      ordered(r.join(broadcast(n), Seq("node"))
        .select(col("n_name"), col("r").as("rank_units")))
    })
  )

  /** Fixed-point integer power iteration (GRPH-1's engine, shared with the
    * GraftLaws random-graph property): nodes (node LONG), edges (src, dst,
    * w LONG) → (node, r) after `iters` rounds of
    * r'(v) = teleport + (17 · Σ_{u→v} (r(u)·w(u,v) div W(u))) div 20,
    * starting from r = base. All int64: order-independent sums, bit-equal
    * on any engine/partitioning; mass only ever LOST (floor + dangling). */
  def pagerankFixedPoint(nodes: DataFrame, edges: DataFrame, iters: Int,
      base: Long, teleport: Long): DataFrame = {
    val e = edges.join(
      edges.groupBy(col("src")).agg(sum(col("w")).as("tot")), Seq("src"))
    var r = nodes.select(col("node"), lit(base).as("r"))
    for (_ <- 1 to iters) {
      val contrib = e.join(r, col("src") === col("node"))
        .select(col("dst"),
          call_function("div", col("r") * col("w"), col("tot")).as("cn"))
        .groupBy(col("dst")).agg(sum(col("cn")).as("m"))
      r = nodes.select(col("node"))
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), (lit(teleport) +
          call_function("div", lit(17L) * coalesce(col("m"), lit(0L)), lit(20L))).as("r"))
    }
    r
  }

  /** DuckDB SQL twins — same column names, same ordering, same decimal
    * discipline (SURVEY §5.3). NULLS FIRST is spelled out because DuckDB
    * defaults to NULLS LAST while Spark's asc defaults to nulls first. */
  private val join2Sql =
    """SELECT l_orderkey, o_orderpriority,
      |  CAST(CAST(SUM(CAST(floor((l_extendedprice*(1.0-l_discount))*10000+0.5)/10000 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-06-01 00:00:00'
      |GROUP BY l_orderkey, o_orderpriority
      |ORDER BY l_orderkey NULLS FIRST, o_orderpriority NULLS FIRST, revenue NULLS FIRST""".stripMargin

  val oracle: Map[String, String] = Map(
    "dq_refs" ->
      """WITH a AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS relationship, COUNT(1) AS n_child,
        |    COUNT(CASE WHEN p.k IS NULL THEN 1 END) AS n_orphan
        |  FROM lineitem f LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p ON f.l_orderkey = p.k
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part', COUNT(1),
        |    COUNT(CASE WHEN p.k IS NULL THEN 1 END)
        |  FROM lineitem f LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p ON f.l_partkey = p.k
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier', COUNT(1),
        |    COUNT(CASE WHEN p.k IS NULL THEN 1 END)
        |  FROM lineitem f LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) p ON f.l_suppkey = p.k
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer', COUNT(1),
        |    COUNT(CASE WHEN p.k IS NULL THEN 1 END)
        |  FROM orders f LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p ON f.o_custkey = p.k
        |  UNION ALL
        |  SELECT 'customer.c_nationkey->nation', COUNT(1),
        |    COUNT(CASE WHEN p.k IS NULL THEN 1 END)
        |  FROM customer f LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p ON f.c_nationkey = p.k
        |  UNION ALL
        |  SELECT 'supplier.s_nationkey->nation', COUNT(1),
        |    COUNT(CASE WHEN p.k IS NULL THEN 1 END)
        |  FROM supplier f LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p ON f.s_nationkey = p.k
        |  UNION ALL
        |  SELECT 'nation.n_regionkey->region', COUNT(1),
        |    COUNT(CASE WHEN p.k IS NULL THEN 1 END)
        |  FROM nation f LEFT JOIN (SELECT DISTINCT r_regionkey AS k FROM region) p ON f.n_regionkey = p.k)
        |SELECT relationship, n_child, n_orphan FROM a
        |ORDER BY relationship NULLS FIRST, n_child NULLS FIRST, n_orphan NULLS FIRST""".stripMargin,

    "agg_mode" ->
      """SELECT o_orderpriority, o_orderstatus AS mode_status, COUNT(1) AS mode_n
        |FROM orders
        |GROUP BY o_orderpriority, o_orderstatus
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |  ORDER BY COUNT(1) DESC, o_orderstatus ASC) = 1
        |ORDER BY o_orderpriority NULLS FIRST, mode_status NULLS FIRST, mode_n NULLS FIRST""".stripMargin,

    // The merge must be indistinguishable from full recomputation over
    // the new snapshot (AGG-12's certification pattern) — the oracle IS
    // that recomputation, plus the declared repair-path label.
    "inc_agg_del" ->
      """SELECT o_orderpriority AS prio, COUNT(1) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price,
        |  CAST(CAST(MAX(o_totalprice) AS DECIMAL(38,4)) AS VARCHAR) AS max_price,
        |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 'repair' ELSE 'incremental' END AS repair_path
        |FROM orders
        |WHERE NOT (o_orderkey % 20 = 5 AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |GROUP BY o_orderpriority
        |ORDER BY prio NULLS FIRST, n NULLS FIRST, sum_price NULLS FIRST,
        |  max_price NULLS FIRST, repair_path NULLS FIRST""".stripMargin,

    "forget_user" ->
      """WITH a AS (
        |  SELECT 'events' AS table_name, COUNT(1) AS n_before,
        |    COUNT(CASE WHEN user_id % 17 <> 3 THEN 1 END) AS n_after
        |  FROM events
        |  UNION ALL
        |  SELECT 'orders', COUNT(1),
        |    COUNT(CASE WHEN o_custkey % 17 <> 3 THEN 1 END)
        |  FROM orders)
        |SELECT table_name, n_before, n_after, n_before - n_after AS n_removed
        |FROM a
        |ORDER BY table_name NULLS FIRST, n_before NULLS FIRST,
        |  n_after NULLS FIRST, n_removed NULLS FIRST""".stripMargin,

    // quantile_cont ≡ Spark percentile (both type-7 interpolation, agg7
    // precedent); flag threshold dec4-rounded on BOTH sides like the Spark
    // build so no row can sit on an engine-dependent double tie.
    "anomaly_mad" ->
      """WITH o AS (SELECT o_orderpriority AS prio, o_totalprice AS x FROM orders),
        |med AS (SELECT prio, quantile_cont(x, 0.5) AS med FROM o GROUP BY 1),
        |mad AS (SELECT o.prio, MIN(m.med) AS med,
        |    quantile_cont(abs(o.x - m.med), 0.5) AS mad
        |  FROM o JOIN med m ON o.prio = m.prio GROUP BY o.prio)
        |SELECT o.prio, COUNT(1) AS n,
        |  CAST(CAST(floor(MIN(g.med)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS med,
        |  CAST(CAST(floor(MIN(g.mad)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mad,
        |  COUNT(CASE WHEN CAST(floor(abs(o.x - g.med)*10000+0.5)/10000 AS DECIMAL(38,4)) >
        |    CAST(floor((4.4478*g.mad)*10000+0.5)/10000 AS DECIMAL(38,4)) THEN 1 END) AS n_out,
        |  COUNT(CASE WHEN CAST(floor(abs(o.x - g.med)*10000+0.5)/10000 AS DECIMAL(38,4)) >
        |    CAST(floor((4.4478*g.mad)*10000+0.5)/10000 AS DECIMAL(38,4))
        |    AND o.x < g.med THEN 1 END) AS n_low,
        |  COUNT(CASE WHEN CAST(floor(abs(o.x - g.med)*10000+0.5)/10000 AS DECIMAL(38,4)) >
        |    CAST(floor((4.4478*g.mad)*10000+0.5)/10000 AS DECIMAL(38,4))
        |    AND o.x > g.med THEN 1 END) AS n_high
        |FROM o JOIN mad g ON o.prio = g.prio
        |GROUP BY o.prio
        |ORDER BY o.prio NULLS FIRST, n NULLS FIRST, med NULLS FIRST, mad NULLS FIRST,
        |  n_out NULLS FIRST, n_low NULLS FIRST, n_high NULLS FIRST""".stripMargin,

    "agg_wmedian" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag, CAST(l_extendedprice AS DECIMAL(38,4)) AS price,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem),
        |s1 AS (
        |  SELECT *, SUM(w) OVER (PARTITION BY flag) AS wt,
        |    SUM(w) OVER (PARTITION BY flag ORDER BY price ASC) AS cum
        |  FROM li)
        |SELECT flag, CAST(MAX(wt) AS BIGINT) AS w_total,
        |  CAST(MIN(price) AS VARCHAR) AS wmedian
        |FROM s1 WHERE 2 * cum >= wt
        |GROUP BY flag
        |ORDER BY flag NULLS FIRST, w_total NULLS FIRST, wmedian NULLS FIRST""".stripMargin,

    "agg_trimmed" ->
      """WITH o AS (SELECT o_orderpriority AS prio, o_totalprice AS x FROM orders),
        |cuts AS (SELECT prio,
        |    CAST(floor(quantile_cont(x, 0.05)*10000+0.5)/10000 AS DECIMAL(38,4)) AS lo,
        |    CAST(floor(quantile_cont(x, 0.95)*10000+0.5)/10000 AS DECIMAL(38,4)) AS hi
        |  FROM o GROUP BY 1),
        |j AS (SELECT o.prio, CAST(o.x AS DECIMAL(38,4)) AS xd, c.lo, c.hi
        |  FROM o JOIN cuts c ON o.prio = c.prio)
        |SELECT prio, COUNT(1) AS n,
        |  CAST(MIN(lo) AS VARCHAR) AS cut_lo,
        |  CAST(MIN(hi) AS VARCHAR) AS cut_hi,
        |  COUNT(CASE WHEN xd >= lo AND xd <= hi THEN 1 END) AS n_kept,
        |  CAST(CAST(floor((CAST(SUM(xd) AS DOUBLE) / COUNT(1))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mean_raw,
        |  CAST(CAST(floor((CAST(SUM(CASE WHEN xd >= lo AND xd <= hi THEN xd END) AS DOUBLE) /
        |    COUNT(CASE WHEN xd >= lo AND xd <= hi THEN 1 END))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mean_trimmed,
        |  CAST(CAST(floor((CAST(SUM(CASE WHEN xd < lo THEN lo WHEN xd > hi THEN hi ELSE xd END) AS DOUBLE) /
        |    COUNT(1))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mean_winsor
        |FROM j GROUP BY prio
        |ORDER BY prio NULLS FIRST, n NULLS FIRST, cut_lo NULLS FIRST, cut_hi NULLS FIRST, n_kept NULLS FIRST, mean_raw NULLS FIRST, mean_trimmed NULLS FIRST, mean_winsor NULLS FIRST""".stripMargin,

    "agg_regr" ->
      """SELECT l_returnflag,
        |  regr_count(l_extendedprice, l_quantity) AS n,
        |  CAST(CAST(floor((regr_slope(l_extendedprice, l_quantity))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS slope,
        |  CAST(CAST(floor((regr_intercept(l_extendedprice, l_quantity))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS intercept,
        |  CAST(CAST(floor((regr_r2(l_extendedprice, l_quantity))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS r2
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST, n NULLS FIRST, slope NULLS FIRST, intercept NULLS FIRST, r2 NULLS FIRST""".stripMargin,

    "graph_hops" ->
      """WITH RECURSIVE eg AS (
        |  SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
        |    CAST(c.c_nationkey AS BIGINT) AS dst
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |r(node, hop) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS hop
        |  UNION
        |  SELECT eg.dst, r.hop + 1 FROM r JOIN eg ON eg.src = r.node
        |  WHERE r.hop < 5),
        |best AS (SELECT node, MIN(hop) AS hop FROM r GROUP BY node)
        |SELECT n_name, CAST(hop AS INT) AS hop
        |FROM nation LEFT JOIN best ON CAST(n_nationkey AS BIGINT) = best.node
        |ORDER BY n_name NULLS FIRST, hop NULLS FIRST""".stripMargin,

    // Integer fixed-point power iteration unrolled as CTEs; `//` is
    // DuckDB's integer floor division ≡ Spark's `div` on positive values.
    "graph_pagerank" ->
      """WITH e0 AS (
        |  SELECT CAST(s.s_nationkey AS BIGINT) AS src,
        |    CAST(c.c_nationkey AS BIGINT) AS dst, COUNT(1) AS w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS tot FROM e0 GROUP BY 1),
        |e AS (SELECT e0.src, e0.dst, CAST(e0.w AS BIGINT) AS w, ow.tot
        |  FROM e0 JOIN ow ON e0.src = ow.src),
        |n0 AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
        |r0 AS (SELECT node, CAST(40000000000 AS BIGINT) AS r FROM n0),
        |c1 AS (SELECT e.dst, CAST(SUM((r.r * e.w) // e.tot) AS BIGINT) AS m
        |  FROM e JOIN r0 r ON e.src = r.node GROUP BY e.dst),
        |r1 AS (SELECT n0.node, CAST(6000000000 + ((17 * COALESCE(c.m, 0)) // 20) AS BIGINT) AS r
        |  FROM n0 LEFT JOIN c1 c ON n0.node = c.dst),
        |c2 AS (SELECT e.dst, CAST(SUM((r.r * e.w) // e.tot) AS BIGINT) AS m
        |  FROM e JOIN r1 r ON e.src = r.node GROUP BY e.dst),
        |r2 AS (SELECT n0.node, CAST(6000000000 + ((17 * COALESCE(c.m, 0)) // 20) AS BIGINT) AS r
        |  FROM n0 LEFT JOIN c2 c ON n0.node = c.dst),
        |c3 AS (SELECT e.dst, CAST(SUM((r.r * e.w) // e.tot) AS BIGINT) AS m
        |  FROM e JOIN r2 r ON e.src = r.node GROUP BY e.dst),
        |r3 AS (SELECT n0.node, CAST(6000000000 + ((17 * COALESCE(c.m, 0)) // 20) AS BIGINT) AS r
        |  FROM n0 LEFT JOIN c3 c ON n0.node = c.dst)
        |SELECT n.n_name, r3.r AS rank_units
        |FROM r3 JOIN nation n ON r3.node = CAST(n.n_nationkey AS BIGINT)
        |ORDER BY n_name NULLS FIRST, rank_units NULLS FIRST""".stripMargin,

    "prj1" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(floor((l_extendedprice*(1.0-l_discount))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS disc_price,
        |  CAST(CAST(floor((l_extendedprice*(1.0-l_discount)*(1.0+l_tax))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS charge
        |FROM lineitem
        |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST, disc_price NULLS FIRST, charge NULLS FIRST""".stripMargin,

    "flt1" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(38,4)) AS VARCHAR) AS total_price
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
        |  AND o_totalprice BETWEEN 1000.0 AND 50000.0
        |  AND (o_orderstatus LIKE 'F%' OR o_orderstatus IS NOT DISTINCT FROM 'P')
        |ORDER BY o_orderkey NULLS FIRST, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, total_price NULLS FIRST""".stripMargin,

    "agg1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(floor((l_extendedprice*(1.0-l_discount))*10000+0.5)/10000 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(floor((l_extendedprice*(1.0-l_discount)*(1.0+l_tax))*10000+0.5)/10000 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_charge,
        |  CAST(CAST(floor((CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)/COUNT(1))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS avg_qty,
        |  CAST(CAST(floor((CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)/COUNT(1))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS avg_price,
        |  CAST(CAST(floor((CAST(SUM(CAST(l_discount AS DECIMAL(38,4))) AS DOUBLE)/COUNT(1))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS avg_disc,
        |  COUNT(1) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, sum_qty NULLS FIRST, sum_base_price NULLS FIRST, sum_disc_price NULLS FIRST, sum_charge NULLS FIRST, avg_qty NULLS FIRST, avg_price NULLS FIRST, avg_disc NULLS FIRST, count_order NULLS FIRST""".stripMargin,

    // The salted rewrite must hash-match the DIRECT aggregation — the twin
    // deliberately contains no salt: it certifies result-identity, the plan
    // guard certifies the two-phase shape.
    "agg1_salted" ->
      """SELECT l_returnflag, l_linestatus, COUNT(1) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS total
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n NULLS FIRST, total NULLS FIRST""".stripMargin,

    // The incremental merge must hash-match the FULL single-pass recompute —
    // the twin deliberately contains no base/delta split: it certifies that
    // merging partial states loses nothing (decimal-sum associativity).
    "inc_agg" ->
      """SELECT o_orderpriority, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  COUNT(1) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(38,4))) AS VARCHAR) AS max_price,
        |  CAST(CAST(floor((CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)/COUNT(1))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS avg_price
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY o_orderpriority NULLS FIRST, month NULLS FIRST, n_orders NULLS FIRST, sum_price NULLS FIRST, max_price NULLS FIRST, avg_price NULLS FIRST""".stripMargin,

    "agg2" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part,
        |  CAST(CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_dist_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST, n_supp NULLS FIRST, n_part NULLS FIRST, sum_dist_qty NULLS FIRST""".stripMargin,

    "agg3" ->
      """SELECT o_year, o_orderpriority,
        |  COUNT(1) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price,
        |  CAST(GROUPING(o_year) AS INT) AS g_year,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        |FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority, o_totalprice FROM orders)
        |GROUP BY ROLLUP (o_year, o_orderpriority)
        |ORDER BY o_year NULLS FIRST, o_orderpriority NULLS FIRST, n_orders NULLS FIRST, sum_price NULLS FIRST, g_year NULLS FIRST, g_prio NULLS FIRST""".stripMargin,

    "agg4" ->
      """SELECT o_year, o_orderstatus,
        |  COUNT(1) AS n_orders,
        |  CAST(CAST(floor((CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)/COUNT(1))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS avg_price
        |FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderstatus, o_totalprice FROM orders)
        |GROUP BY CUBE (o_year, o_orderstatus)
        |ORDER BY o_year NULLS FIRST, o_orderstatus NULLS FIRST, n_orders NULLS FIRST, avg_price NULLS FIRST""".stripMargin,

    "agg4_gsets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, n_orders NULLS FIRST""".stripMargin,

    "agg5" ->
      """SELECT o_custkey,
        |  CAST(CAST(MIN(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS min_price,
        |  CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS max_price,
        |  MAX_BY(o_orderstatus, o_orderkey) AS latest_status,
        |  CAST(CAST(MIN_BY(CAST(o_totalprice AS DECIMAL(38,4)), o_orderkey) AS DECIMAL(38,4)) AS VARCHAR) AS first_price
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY o_custkey NULLS FIRST, min_price NULLS FIRST, max_price NULLS FIRST, latest_status NULLS FIRST, first_price NULLS FIRST""".stripMargin,

    "agg6" ->
      """SELECT l_returnflag,
        |  CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_discount > 0.09) AS any_deep_discount,
        |  CAST(count_if(l_tax = 0.0) AS BIGINT) AS n_taxfree
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST, n_bulk NULLS FIRST, all_positive NULLS FIRST, any_deep_discount NULLS FIRST, n_taxfree NULLS FIRST""".stripMargin,

    "agg7" ->
      """SELECT l_returnflag,
        |  CAST(CAST(floor((quantile_cont(l_extendedprice, 0.5))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p50,
        |  CAST(CAST(floor((quantile_cont(l_extendedprice, 0.9))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p90,
        |  CAST(CAST(floor((quantile_cont(l_extendedprice, 0.99))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p99
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST, p50 NULLS FIRST, p90 NULLS FIRST, p99 NULLS FIRST""".stripMargin,

    "win4" ->
      """SELECT event_id, user_id,
        |  COUNT(1) OVER w AS n_10min,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER w AS DECIMAL(38,4)) AS VARCHAR) AS sum_10min
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
        |  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, n_10min NULLS FIRST, sum_10min NULLS FIRST""".stripMargin,

    "join1" ->
      """SELECT c_mktsegment, COUNT(1) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST, n_orders NULLS FIRST, sum_price NULLS FIRST""".stripMargin,

    // Identical to join1's twin BY DESIGN: bucketing is a physical layout;
    // the join result must be indistinguishable from the plain-parquet join.
    "join13_bucket" ->
      """SELECT c_mktsegment, COUNT(1) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST, n_orders NULLS FIRST, sum_price NULLS FIRST""".stripMargin,

    "agg10_listagg" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  COUNT(1) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority NULLS FIRST, statuses NULLS FIRST, n NULLS FIRST""".stripMargin,

    "join2" -> join2Sql,
    // The salted rewrite must hash-match the PLAIN join's aggregate — same
    // oracle; result-identity is the point, the plan guard pins the shape.
    "join2_salted" -> join2Sql,

    "join3" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(floor((l_extendedprice*(1.0-l_discount))*10000+0.5)/10000 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue,
        |  COUNT(1) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY n_name
        |ORDER BY n_name NULLS FIRST, revenue NULLS FIRST, n_items NULLS FIRST""".stripMargin,

    "join4" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey NULLS FIRST, n_orders NULLS FIRST""".stripMargin,

    "join5" ->
      """SELECT s_suppkey, s_name, n_nationkey, n_name
        |FROM supplier FULL OUTER JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey NULLS FIRST, s_name NULLS FIRST, n_nationkey NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "join6" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey NULLS FIRST, c_name NULLS FIRST""".stripMargin,

    "join7" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey NULLS FIRST, c_name NULLS FIRST""".stripMargin,

    "join8" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "join9" ->
      """SELECT p_brand, COUNT(1) AS n_items,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price
        |FROM lineitem JOIN part
        |  ON l_partkey = p_partkey AND l_extendedprice > p_retailprice * 20.0
        |GROUP BY p_brand
        |ORDER BY p_brand NULLS FIRST, n_items NULLS FIRST, sum_price NULLS FIRST""".stripMargin,

    "join9_band" ->
      """SELECT s_suppkey, COUNT(1) AS n_close,
        |  CAST(CAST(floor((CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE)/COUNT(1))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS avg_bal
        |FROM supplier JOIN customer
        |  ON c_acctbal BETWEEN s_acctbal - 100.0 AND s_acctbal + 100.0
        |GROUP BY s_suppkey
        |ORDER BY s_suppkey NULLS FIRST, n_close NULLS FIRST, avg_bal NULLS FIRST""".stripMargin,

    "join_audit" ->
      """WITH a AS (SELECT l_suppkey AS k, COUNT(1) AS n_left FROM lineitem GROUP BY 1),
        |b AS (SELECT l_suppkey AS k, COUNT(1) AS n_right FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
        |c AS (SELECT a.k AS k, n_left, n_right, n_left * n_right AS contrib FROM a JOIN b ON a.k = b.k),
        |t AS (SELECT CAST(SUM(contrib) AS DOUBLE) AS total FROM c),
        |top AS (SELECT * FROM c ORDER BY contrib DESC, k ASC LIMIT 10),
        |cum AS (SELECT *, SUM(contrib) OVER (ORDER BY contrib DESC, k ASC ROWS UNBOUNDED PRECEDING) AS cumc,
        |  ROW_NUMBER() OVER (ORDER BY contrib DESC, k ASC) AS rnk FROM top)
        |SELECT CAST(rnk AS INT) AS rank, k AS suppkey, n_left, n_right,
        |  CAST(contrib AS BIGINT) AS contrib,
        |  CAST(CAST(floor((CAST(contrib AS DOUBLE) / total)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS share,
        |  CAST(CAST(floor((CAST(cumc AS DOUBLE) / total)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS cum_share
        |FROM cum CROSS JOIN t
        |ORDER BY rank NULLS FIRST, suppkey NULLS FIRST, n_left NULLS FIRST, n_right NULLS FIRST, contrib NULLS FIRST, share NULLS FIRST, cum_share NULLS FIRST""".stripMargin,

    "join10" ->
      """WITH probes AS (
        |  SELECT user_id AS p_user, MAX(CAST(ts AS TIMESTAMP)) AS probe_ts
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
        |), ranked AS (
        |  SELECT p.p_user AS user_id, p.probe_ts,
        |    CAST(e.ts AS TIMESTAMP) AS click_ts, e.event_id AS click_event,
        |    ROW_NUMBER() OVER (PARTITION BY p.p_user
        |      ORDER BY CAST(e.ts AS TIMESTAMP) DESC, e.event_id DESC) AS rn
        |  FROM events e JOIN probes p
        |    ON e.user_id = p.p_user AND CAST(e.ts AS TIMESTAMP) <= p.probe_ts
        |  WHERE e.event_type = 'click'
        |)
        |SELECT user_id, probe_ts, click_ts, click_event FROM ranked WHERE rn = 1
        |ORDER BY user_id NULLS FIRST, probe_ts NULLS FIRST, click_ts NULLS FIRST, click_event NULLS FIRST""".stripMargin,

    "agg8" ->
      """SELECT l_returnflag,
        |  CAST(CAST(floor((corr(l_quantity, l_extendedprice))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS corr_qty_price,
        |  CAST(CAST(floor((covar_samp(l_quantity, l_discount))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS covar_qty_disc,
        |  CAST(CAST(floor((stddev_samp(l_discount))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS sd_disc,
        |  CAST(CAST(floor((var_samp(l_tax))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS var_tax
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST, corr_qty_price NULLS FIRST, covar_qty_disc NULLS FIRST, sd_disc NULLS FIRST, var_tax NULLS FIRST""".stripMargin,

    "agg9_pct" ->
      """SELECT l_returnflag,
        |  array_to_string(list_transform(quantile_cont(l_quantity, [0.25, 0.5, 0.9]), x -> CAST(CAST(floor(CAST(x AS DOUBLE)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR)), ',') AS qty_pct,
        |  array_to_string(list_transform(quantile_cont(l_extendedprice, [0.25, 0.5, 0.9]), x -> CAST(CAST(floor(CAST(x AS DOUBLE)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR)), ',') AS price_pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST, qty_pct NULLS FIRST, price_pct NULLS FIRST""".stripMargin,

    "win5" ->
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(CAST(floor((cume_dist() OVER w)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS cd,
        |  CAST(CAST(floor((percent_rank() OVER w)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS pr
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderkey NULLS FIRST, cd NULLS FIRST, pr NULLS FIRST""".stripMargin,

    "win6" ->
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  CAST(CAST(nth_value(o_totalprice, 2) OVER w AS DECIMAL(38,4)) AS VARCHAR) AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderkey NULLS FIRST, quartile NULLS FIRST, second_price NULLS FIRST""".stripMargin,

    "join11" ->
      """WITH e AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        |  FROM events
        |), p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM e WHERE event_type = 'click')
        |SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |  p.ts AS purchase_ts, c.ts AS click_ts
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id NULLS FIRST, user_id NULLS FIRST, purchase_ts NULLS FIRST, click_ts NULLS FIRST""".stripMargin,

    "join14_nearest" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), t AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_type, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_us,
        |    FIRST_VALUE(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_type, event_id
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_us
        |  FROM e
        |)
        |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
        |  make_timestamp(CASE WHEN prev_us IS NOT NULL AND (next_us IS NULL OR us - prev_us <= next_us - us)
        |    THEN prev_us ELSE next_us END) AS click_ts,
        |  CASE WHEN prev_us IS NOT NULL AND (next_us IS NULL OR us - prev_us <= next_us - us)
        |    THEN 'before' ELSE 'after' END AS direction,
        |  CASE WHEN prev_us IS NOT NULL AND (next_us IS NULL OR us - prev_us <= next_us - us)
        |    THEN us - prev_us ELSE next_us - us END AS gap_us
        |FROM t
        |WHERE event_type = 'purchase' AND (prev_us IS NOT NULL OR next_us IS NOT NULL)
        |ORDER BY purchase_id NULLS FIRST, user_id NULLS FIRST, purchase_ts NULLS FIRST, click_ts NULLS FIRST, direction NULLS FIRST, gap_us NULLS FIRST""".stripMargin,

    "gap1" ->
      """WITH bounds AS (
        |  SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi FROM orders
        |), spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds
        |), prios AS (
        |  SELECT DISTINCT o_orderpriority AS prio FROM orders
        |), daily AS (
        |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d, COUNT(1) AS n
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT p.prio AS prio, s.d AS d, COALESCE(daily.n, 0) AS n
        |FROM spine s CROSS JOIN prios p
        |LEFT JOIN daily ON daily.prio = p.prio AND daily.d = s.d
        |ORDER BY p.prio NULLS FIRST, s.d NULLS FIRST, n NULLS FIRST""".stripMargin,

    "seq_spine" ->
      """WITH spine AS (
        |  SELECT CAST(DATE '1995-01-01' + CAST(r.range AS INT) AS DATE) AS d
        |  FROM range(0, 31) r
        |), daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(1) AS n FROM orders GROUP BY 1
        |)
        |SELECT s.d AS d, COALESCE(daily.n, 0) AS n_orders
        |FROM spine s LEFT JOIN daily USING (d)
        |ORDER BY s.d NULLS FIRST, n_orders NULLS FIRST""".stripMargin,

    "fzj1" ->
      """SELECT a.c_custkey AS c1, b.c_custkey AS c2,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS lev
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |  AND len(a.c_name) = len(b.c_name)
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY c1 NULLS FIRST, c2 NULLS FIRST, lev NULLS FIRST""".stripMargin,

    // Same edge set as fzj1; entity = connected component reached by the
    // recursive walk, entity_id = component minimum (= Hash-Min fixpoint).
    "fzj_cluster" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS d1, b.c_custkey AS d2
        |  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |    AND len(a.c_name) = len(b.c_name)
        |    AND levenshtein(a.c_name, b.c_name) <= 1
        |), edges AS (
        |  SELECT d1, d2 FROM pairs UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs
        |), walk(c, r) AS (
        |  SELECT c_custkey, c_custkey AS r FROM customer
        |  UNION
        |  SELECT w.c, e.d2 AS r FROM walk w JOIN edges e ON w.r = e.d1
        |), clusters AS (
        |  SELECT c AS c_custkey, MIN(r) AS entity_id FROM walk GROUP BY c
        |)
        |SELECT c_custkey, entity_id, (c_custkey = entity_id) AS is_keeper
        |FROM clusters
        |ORDER BY c_custkey NULLS FIRST, entity_id NULLS FIRST, is_keeper NULLS FIRST""".stripMargin,

    "fzj_jw" ->
      """WITH names AS (
        |  SELECT p_name AS name, CAST(COUNT(1) AS BIGINT) AS cnt
        |  FROM part GROUP BY 1
        |), scored AS (
        |  SELECT a.name AS n1, b.name AS n2, a.cnt AS cnt1, b.cnt AS cnt2,
        |    jaro_winkler_similarity(a.name, b.name) AS jwv
        |  FROM names a JOIN names b ON a.name < b.name
        |)
        |SELECT n1, n2, cnt1, cnt2,
        |  CAST(CAST(floor((jwv)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS jw
        |FROM scored
        |WHERE CAST(floor((jwv)*10000+0.5)/10000 AS DECIMAL(38,4)) >= CAST(floor((0.8)*10000+0.5)/10000 AS DECIMAL(38,4))
        |ORDER BY n1 NULLS FIRST, n2 NULLS FIRST, cnt1 NULLS FIRST, cnt2 NULLS FIRST, jw NULLS FIRST""".stripMargin,

    "mrg1" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(38,4)) AS price, 0 AS version
        |  FROM orders
        |), delta AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus, CAST(o_totalprice + 100.0 AS DECIMAL(38,4)) AS price, 1 AS version
        |  FROM orders WHERE o_orderkey % 7 = 0
        |), merged AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
        |)
        |SELECT o_orderkey, o_orderstatus, CAST(price AS VARCHAR) AS price
        |FROM merged WHERE rn = 1
        |ORDER BY o_orderkey NULLS FIRST, o_orderstatus NULLS FIRST, price NULLS FIRST""".stripMargin,

    "subq1" ->
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |              AND o.o_totalprice > (SELECT AVG(o_totalprice) FROM orders))
        |ORDER BY c_custkey NULLS FIRST, c_name NULLS FIRST""".stripMargin,

    "join12_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, o.total_price
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(38,4)) AS VARCHAR) AS total_price
        |  FROM orders WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1
        |) o
        |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST, total_price NULLS FIRST""".stripMargin,

    "subq2_rec" ->
      """WITH RECURSIVE anc(node, depth) AS (
        |  SELECT c_custkey, 0 FROM customer WHERE c_custkey = 0
        |  UNION ALL
        |  SELECT c.c_custkey, a.depth + 1
        |  FROM customer c JOIN anc a ON c.c_custkey // 2 = a.node
        |  WHERE c.c_custkey > 0
        |)
        |SELECT depth, count(1) AS n_nodes, min(node) AS min_key, max(node) AS max_key
        |FROM anc GROUP BY depth
        |ORDER BY depth NULLS FIRST, n_nodes NULLS FIRST, min_key NULLS FIRST, max_key NULLS FIRST""".stripMargin,

    "win1" ->
      """SELECT * FROM (
        |  SELECT c_mktsegment, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(38,4)) AS VARCHAR) AS total_price,
        |    CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        |    CAST(RANK() OVER w AS INT) AS rk,
        |    CAST(DENSE_RANK() OVER w AS INT) AS drk,
        |    CAST(NTILE(4) OVER w AS INT) AS quartile
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC)
        |) WHERE rn <= 10
        |ORDER BY c_mktsegment NULLS FIRST, o_orderkey NULLS FIRST, total_price NULLS FIRST, rn NULLS FIRST, rk NULLS FIRST, drk NULLS FIRST, quartile NULLS FIRST""".stripMargin,

    "win2" ->
      """SELECT user_id, event_id, value,
        |  LAG(value, 1) OVER w AS prev_value,
        |  LEAD(value, 1) OVER w AS next_value,
        |  FIRST_VALUE(event_type) OVER w AS first_type,
        |  LAST_VALUE(event_type) OVER w AS last_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
        |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, value NULLS FIRST, prev_value NULLS FIRST, next_value NULLS FIRST, first_type NULLS FIRST, last_type NULLS FIRST""".stripMargin,

    "win3" ->
      """SELECT user_id, event_id,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS VARCHAR) AS running_sum,
        |  CAST(CAST(floor((CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |    COUNT(1) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS sliding_avg,
        |  COUNT(1) OVER (PARTITION BY user_id ORDER BY value ASC
        |    RANGE BETWEEN 5.0 PRECEDING AND CURRENT ROW) AS n_in_band
        |FROM events
        |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, running_sum NULLS FIRST, sliding_avg NULLS FIRST, n_in_band NULLS FIRST""".stripMargin,

    "srt1" ->
      """SELECT o_orderkey, CAST(tp_num AS VARCHAR) AS total_price, o_orderdate FROM (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(38,4)) AS tp_num, o_orderdate
        |  FROM orders
        |  ORDER BY tp_num DESC NULLS LAST, o_orderkey ASC
        |  LIMIT 10
        |)""".stripMargin,

    "srt2" ->
      """SELECT o_custkey, rn, o_orderkey, total_price FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(38,4)) AS VARCHAR) AS total_price,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
        |  FROM orders
        |) WHERE rn <= 3
        |ORDER BY o_custkey NULLS FIRST, rn NULLS FIRST, o_orderkey NULLS FIRST, total_price NULLS FIRST""".stripMargin,

    "set1_union_all" ->
      """SELECT nkey, COUNT(1) AS n FROM (
        |  SELECT CAST(s_nationkey AS INT) AS nkey FROM supplier
        |  UNION ALL
        |  SELECT CAST(c_nationkey AS INT) AS nkey FROM customer
        |) GROUP BY nkey
        |ORDER BY nkey NULLS FIRST, n NULLS FIRST""".stripMargin,

    "set1_union_distinct" ->
      """SELECT name FROM (
        |  SELECT s_name AS name FROM supplier
        |  UNION
        |  SELECT c_name AS name FROM customer
        |)
        |ORDER BY name NULLS FIRST""".stripMargin,

    "set2_intersect" ->
      """SELECT CAST(s_nationkey AS INT) AS nkey FROM supplier
        |INTERSECT
        |SELECT CAST(c_nationkey AS INT) AS nkey FROM customer
        |ORDER BY nkey NULLS FIRST""".stripMargin,

    "set2_except" ->
      """SELECT CAST(n_nationkey AS INT) AS nkey FROM nation
        |EXCEPT
        |SELECT CAST(s_nationkey AS INT) AS nkey FROM supplier
        |ORDER BY nkey NULLS FIRST""".stripMargin,

    "set2_except_all" ->
      """SELECT status, COUNT(1) AS n FROM (
        |  SELECT o_orderstatus AS status FROM orders
        |  EXCEPT ALL
        |  SELECT o_orderstatus AS status FROM orders WHERE o_totalprice > 10000.0
        |) GROUP BY status
        |ORDER BY status NULLS FIRST, n NULLS FIRST""".stripMargin,

    "ddp1" ->
      """SELECT user_id, event_type, MIN(event_id) AS keeper_event, COUNT(1) AS n_dups
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST, keeper_event NULLS FIRST, n_dups NULLS FIRST""".stripMargin,

    "pvt1" ->
      """SELECT user_id,
        |  COUNT(1) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(1) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(1) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(1) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(1) FILTER (WHERE event_type = 'view') AS "view"
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id NULLS FIRST, click NULLS FIRST, error NULLS FIRST, purchase NULLS FIRST, signup NULLS FIRST, "view" NULLS FIRST""".stripMargin,

    "pvt2_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
        |    CAST(CAST(l_quantity AS DECIMAL(38,4)) AS VARCHAR) AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice' AS measure,
        |    CAST(CAST(l_extendedprice AS DECIMAL(38,4)) AS VARCHAR) AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount' AS measure,
        |    CAST(CAST(l_discount AS DECIMAL(38,4)) AS VARCHAR) AS value FROM lineitem
        |)
        |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST, measure NULLS FIRST, value NULLS FIRST""".stripMargin,

    "expl1" ->
      """SELECT word, COUNT(1) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |) GROUP BY word
        |ORDER BY n DESC NULLS LAST, word ASC
        |LIMIT 50""".stripMargin,

    "dq_consistency" ->
      """WITH lr AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS det
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT CAST(o_totalprice AS DECIMAL(38,4)) AS hdr, det
        |  FROM orders LEFT JOIN lr ON o_orderkey = l_orderkey),
        |b AS (
        |  SELECT hdr, det,
        |    CASE WHEN det IS NULL THEN 'no_detail'
        |         WHEN CAST(CAST(floor((CAST(abs(hdr - det) AS DOUBLE) / CAST(hdr AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS DOUBLE) < 0.01 THEN 'lt_1pct'
        |         WHEN CAST(CAST(floor((CAST(abs(hdr - det) AS DOUBLE) / CAST(hdr AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS DOUBLE) < 0.10 THEN '1_to_10pct'
        |         WHEN CAST(CAST(floor((CAST(abs(hdr - det) AS DOUBLE) / CAST(hdr AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS DOUBLE) < 0.50 THEN '10_to_50pct'
        |         ELSE 'ge_50pct' END AS bucket
        |  FROM j)
        |SELECT bucket, COUNT(1) AS n_orders,
        |  CAST(CAST(SUM(hdr) AS DECIMAL(38,4)) AS VARCHAR) AS header_sum,
        |  CAST(CAST(SUM(COALESCE(det, CAST(0 AS DECIMAL(38,4)))) AS DECIMAL(38,4)) AS VARCHAR) AS detail_sum
        |FROM b GROUP BY bucket
        |ORDER BY bucket NULLS FIRST, n_orders NULLS FIRST, header_sum NULLS FIRST, detail_sum NULLS FIRST""".stripMargin,

    "dq_quarantine" ->
      """WITH feed AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 13 = 0 THEN -o_totalprice ELSE o_totalprice END AS price,
        |    CASE WHEN o_orderkey % 17 = 0 THEN NULL
        |         WHEN o_orderkey % 23 = 0 THEN o_custkey + 10000000 ELSE o_custkey END AS cust
        |  FROM orders),
        |probed AS (
        |  SELECT feed.*, c.c_custkey FROM feed
        |  LEFT JOIN customer c ON feed.cust = c.c_custkey),
        |tagged AS (
        |  SELECT price,
        |    COALESCE(array_to_string(list_filter([
        |      CASE WHEN price <= 0.0 THEN 'neg_price' END,
        |      CASE WHEN cust IS NULL THEN 'null_cust' END,
        |      CASE WHEN cust IS NOT NULL AND c_custkey IS NULL THEN 'orphan_cust' END
        |    ], x -> x IS NOT NULL), ','), '') AS failed_rules
        |  FROM probed)
        |SELECT failed_rules, COUNT(1) AS n_rows,
        |  CAST(CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price,
        |  CASE WHEN failed_rules = '' THEN 'clean' ELSE 'quarantine' END AS verdict
        |FROM tagged GROUP BY 1
        |ORDER BY failed_rules NULLS FIRST, n_rows NULLS FIRST, sum_price NULLS FIRST, verdict NULLS FIRST""".stripMargin,

    "inc_join" ->
      """SELECT CASE WHEN o_orderdate >= TIMESTAMP '2001-06-01' THEN 'delta_o'
        |            WHEN l_shipdate >= TIMESTAMP '2001-06-01' THEN 'old_o_delta_l'
        |            ELSE 'base' END AS path,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  COUNT(1) AS n_rows,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2
        |ORDER BY path NULLS FIRST, month NULLS FIRST, n_rows NULLS FIRST, revenue NULLS FIRST""".stripMargin,

    "dq_audit" ->
      """SELECT COUNT(1) AS n_rows,
        |  COUNT(1) - COUNT(o_custkey) AS n_null_custkey,
        |  COUNT(1) - COUNT(o_orderdate) AS n_null_orderdate,
        |  COUNT(1) - COUNT(DISTINCT o_orderkey) AS n_dup_orderkey,
        |  COUNT(DISTINCT o_orderstatus) AS n_status_values,
        |  MIN(o_orderdate) AS min_orderdate,
        |  MAX(o_orderdate) AS max_orderdate,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_totalprice,
        |  CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpos_price
        |FROM orders""".stripMargin,

    "manifest" ->
      """SELECT * FROM (
        |  SELECT 'region' AS table_name, COUNT(1) AS n_rows, 2 AS n_cols FROM region
        |  UNION ALL SELECT 'nation', COUNT(1), 3 FROM nation
        |  UNION ALL SELECT 'customer', COUNT(1), 5 FROM customer
        |  UNION ALL SELECT 'supplier', COUNT(1), 4 FROM supplier
        |  UNION ALL SELECT 'part', COUNT(1), 6 FROM part
        |  UNION ALL SELECT 'orders', COUNT(1), 6 FROM orders
        |  UNION ALL SELECT 'lineitem', COUNT(1), 11 FROM lineitem
        |  UNION ALL SELECT 'events', COUNT(1), 6 FROM events
        |  UNION ALL SELECT 'documents', COUNT(1), 5 FROM documents
        |  UNION ALL SELECT 'embeddings', COUNT(1), 3 FROM embeddings
        |)
        |ORDER BY table_name NULLS FIRST, n_rows NULLS FIRST, n_cols NULLS FIRST""".stripMargin,

    "recon" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(38,4)) AS v FROM orders),
        |next0 AS (
        |  SELECT o_orderkey AS k,
        |    CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 50.0 ELSE o_totalprice END AS DECIMAL(38,4)) AS v
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000 AS k, CAST(o_totalprice AS DECIMAL(38,4)) AS v
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |j AS (
        |  SELECT b.v AS v_base, n.v AS v_next
        |  FROM base b FULL OUTER JOIN next0 n ON b.k = n.k)
        |SELECT CASE WHEN v_base IS NULL THEN 'added'
        |            WHEN v_next IS NULL THEN 'removed'
        |            WHEN v_base <> v_next THEN 'changed'
        |            ELSE 'unchanged' END AS class,
        |  COUNT(1) AS n,
        |  CAST(CAST(SUM(COALESCE(v_next, CAST(0 AS DECIMAL(38,4))) - COALESCE(v_base, CAST(0 AS DECIMAL(38,4)))) AS DECIMAL(38,4)) AS VARCHAR) AS value_delta
        |FROM j GROUP BY 1
        |ORDER BY class NULLS FIRST, n NULLS FIRST, value_delta NULLS FIRST""".stripMargin,

    "agg_hist" ->
      """SELECT CAST(LEAST(GREATEST(floor(o_totalprice / 30000.0), 0.0), 19.0) AS INT) AS bucket,
        |  COUNT(1) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price,
        |  CAST(LEAST(GREATEST(floor(o_totalprice / 30000.0), 0.0), 19.0) AS INT) * 30000 AS bucket_lo
        |FROM orders
        |GROUP BY 1, 4
        |ORDER BY bucket NULLS FIRST, n_orders NULLS FIRST, sum_price NULLS FIRST, bucket_lo NULLS FIRST""".stripMargin
  )

  /** bucket_tables includes the catalog registration that happens OUTSIDE
    * the once block, so forcing it here also pre-registers the bucketed
    * tables. */
  override val prebuilds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "bucket_tables" -> ((s, d) => { bucketedTables(s, d); () }))
}
