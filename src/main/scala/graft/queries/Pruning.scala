package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.sources.Ingest

/** Partition-pruning demonstration queries (SURVEY.md §2.1 warehouse sink +
  * §4.2 `PruneFileSourcePartitions` / dynamic partition pruning).
  *
  * At 100 TB, partition layout is the first scan lever a user pulls: a fact
  * table laid out as `orders/o_year=YYYY/...` lets a year-scoped query read
  * one directory instead of the whole table (static pruning), and a join
  * against a filtered dimension prune at RUNTIME to exactly the partitions
  * whose keys survive the dim filter (dynamic partition pruning — the scan
  * waits on the broadcast and skips non-matching directories).
  *
  * These queries make that story demonstrable instead of declared:
  * the builder writes a hive-partitioned copy of `orders` (partitioned by
  * `o_year = year(o_orderdate)`) through the same
  * [[Ingest.writePartitionedParquet]] warehouse sink the ingestion flow
  * uses, then queries it. The DuckDB twins compute the identical result
  * from the ORIGINAL unpartitioned table, so the oracle certifies that the
  * partitioned layout is a pure physical rewrite — same answers, fewer
  * bytes scanned. PlanGuardSpec pins the physical facts: a non-empty
  * `PartitionFilters` on the static scan and a `dynamicpruning` expression
  * on the DPP scan.
  */
object Pruning extends QueryModule {

  /** Hive-partitioned warehouse copy of orders, built once per (process,
    * sfDir) via [[graft.core.Warehouse.once]]:
    * `.../o_year=YYYY/part-*.parquet`. */
  def partitionedOrders(s: SparkSession, d: String): String =
    graft.core.Warehouse.once(d, "orders_by_year") { out =>
      val o = load(s, d, "orders").withColumn("o_year", year(col("o_orderdate")))
      Ingest.writePartitionedParquet(o, out, Seq("o_year"))
    }

  val all: Map[String, Q] = Map(
    // ---- PRUNE-STATIC: a literal predicate on the partition column must
    //      become a PartitionFilter (directory-level skip, no data read
    //      outside o_year=1996), not a row-level post-filter. ----
    "prune_static" -> ((s, d) => {
      val po = s.read.parquet(partitionedOrders(s, d))
      ordered(po.filter(col("o_year") === 1996)
        .groupBy(month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          dsumS(col("o_totalprice")).as("sum_price")))
    }),

    // ---- PRUNE-DPP: the partition keys that survive a dimension filter
    //      are only known at runtime; dynamic partition pruning feeds the
    //      broadcast dim's key set back into the fact scan so it skips the
    //      other year directories. The dim derives a year from region
    //      (5 rows, broadcast) and filters on r_name — deliberately NOT on
    //      the join key, so no static constraint can be inferred and the
    //      prune genuinely happens at runtime. ----
    "prune_dpp" -> ((s, d) => {
      val po = s.read.parquet(partitionedOrders(s, d))
      val dim = load(s, d, "region")
        .select((col("r_regionkey") + 1995).cast("int").as("y"), col("r_name"))
        .filter(col("r_name").isin("ASIA", "EUROPE"))
      ordered(po.join(broadcast(dim), po("o_year") === dim("y"))
        .groupBy(col("o_year"), col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          dsumS(col("o_totalprice")).as("sum_price")))
    })
  )

  val oracle: Map[String, String] = Map(
    "prune_static" ->
      """SELECT month(o_orderdate) AS o_month, count(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price
        |FROM orders WHERE year(o_orderdate) = 1996
        |GROUP BY 1
        |ORDER BY o_month NULLS FIRST, n_orders NULLS FIRST, sum_price NULLS FIRST""".stripMargin,

    "prune_dpp" ->
      """WITH dim AS (
        |  SELECT CAST(r_regionkey + 1995 AS INTEGER) AS y, r_name
        |  FROM region WHERE r_name IN ('ASIA','EUROPE'))
        |SELECT year(o_orderdate) AS o_year, r_name, count(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price
        |FROM orders JOIN dim ON year(o_orderdate) = dim.y
        |GROUP BY 1, 2
        |ORDER BY o_year NULLS FIRST, r_name NULLS FIRST, n_orders NULLS FIRST, sum_price NULLS FIRST""".stripMargin
  )

  override val prebuilds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "orders_by_year" -> ((s, d) => { partitionedOrders(s, d); () }))
}
