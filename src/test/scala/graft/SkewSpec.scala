package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.operators.Skew

/** The skew rewrites must be result-identical to their direct forms —
  * salting only redistributes work. */
class SkewSpec extends AnyFunSuite {
  import TestSpark._

  test("salted two-phase aggregation equals direct groupBy exactly") {
    val e = Tables.load(spark, sfDir, "events")
    val dt = org.apache.spark.sql.types.DecimalType(38, 4)
    val direct = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(dt)).cast(dt).as("total"))
    val salted = Skew.saltedSumCount(e, Seq("event_type"), "value", buckets = 16)
    assertSameRows(salted, direct, "salted vs direct aggregation")
    // The partial stage really fans the hot key out across salt groups.
    val partialGroups = e
      .withColumn("_salt", pmod(hash(struct(e.columns.toSeq.map(col): _*)), lit(16)))
      .groupBy(col("event_type"), col("_salt")).count()
      .groupBy(col("event_type")).count()
      .agg(min(col("count"))).head().getLong(0)
    assert(partialGroups > 1, "each key should split across multiple salt buckets")
  }

  test("salted join equals plain join as a multiset") {
    val o = Tables.load(spark, sfDir, "orders")
    val c = Tables.load(spark, sfDir, "customer")
    val direct = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("c_name"))
    val salted = Skew.saltedJoin(o, c, "o_custkey", "c_custkey", buckets = 8)
      .select(col("o_orderkey"), col("c_name"))
    assert(salted.count() == direct.count())
    assertSameRows(salted, direct, "salted vs plain join")
  }
}
