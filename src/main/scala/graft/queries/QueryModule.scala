package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query family. `all` holds the Spark builders, `oracle` their DuckDB
  * twins (a key absent from `oracle` is a rows-only approximate query), and
  * `prebuilds` every [[graft.core.Warehouse.once]] dataset the family owns
  * as (name, forcing thunk), so Bench can force them before timing starts.
  * [[graft.SparkEntry.modules]] lists the families; everything else is
  * derived from that list. */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame
  def all: Map[String, Q]
  def oracle: Map[String, String]
  def prebuilds: Seq[(String, (SparkSession, String) => Unit)] = Nil
}
