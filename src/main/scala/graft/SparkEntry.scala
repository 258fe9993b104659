package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Analytics, Eval, Events, Ingestion, LlmOps, Pruning, QueryModule, Relational, Scalars, Stats}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator declared in SURVEY.md §2 appears here as one entry in
  * `queries` (Spark DataFrame build) with a DuckDB twin in `oracleSql`;
  * the driver hash-compares both results on /root/testdata/sf0.01.
  * `queries`, `oracleSql` and `prebuilds` are all derived from `modules`,
  * the one place a query family is registered.
  */
object SparkEntry {
  /** Flagship query (AGG-1, TPC-H Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.all("agg1")(spark, "/root/testdata/sf0.001")

  /** Every query family; the order fixes Bench's prebuild order. Keys are
    * unique across modules (RegistrySpec). */
  val modules: Seq[QueryModule] =
    Seq(Relational, Scalars, LlmOps, Events, Ingestion, Pruning, Stats, Analytics, Eval)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.all).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.flatMap(_.oracle).toMap

  /** Every `Warehouse.once` dataset as (name, forcing thunk), in module order. */
  def prebuilds: Seq[(String, (SparkSession, String) => Unit)] = modules.flatMap(_.prebuilds)
}
