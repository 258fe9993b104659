package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GraftSequence, GraftSequenceExec}

/** The whole-operator extension chain: custom logical leaf plans through
  * the injected strategy to the custom physical exec, produces correct
  * rows across partitions, and the injected optimizer rule folds id-bound
  * predicates into the leaf instead of generating-then-filtering. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  test("GraftSequence plans via GraftStrategy to GraftSequenceExec and matches range") {
    val df = GraftSequence.df(spark, 5, 1005, slices = 7)
    val execs = df.queryExecution.executedPlan.collect { case g: GraftSequenceExec => g }
    assert(execs.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(df.count() == 1000)
    val expected = spark.range(5, 1005).agg(sum(col("id"))).head().getLong(0)
    assert(df.agg(sum(col("id"))).head().getLong(0) == expected)
  }

  test("PushFilterIntoGraftSequence folds id bounds into the leaf") {
    val df = GraftSequence.df(spark, 0, 1000000, slices = 8)
      .filter(col("id") >= 999990 && col("id") < 999995)
    val leaves = df.queryExecution.optimizedPlan.collect { case g: GraftSequence => g }
    assert(leaves.map(g => (g.start, g.end)) == Seq((999990L, 999995L)),
      s"bounds not pruned:\n${df.queryExecution.optimizedPlan}")
    // No residual Filter: the whole predicate folded into the leaf.
    assert(!df.queryExecution.optimizedPlan.toString.contains("Filter"),
      df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(999990L, 999991L, 999992L, 999993L, 999994L))
  }

  test("non-bound predicates stay as a residual filter over the pruned leaf") {
    val df = GraftSequence.df(spark, 0, 1000, slices = 4)
      .filter(col("id") >= 100 && col("id") < 200 && col("id") % 7 === 0)
    val leaves = df.queryExecution.optimizedPlan.collect { case g: GraftSequence => g }
    assert(leaves.map(g => (g.start, g.end)) == Seq((100L, 200L)))
    assert(df.count() == (100 until 200).count(_ % 7 == 0))
  }

  test("empty and inverted ranges yield zero rows") {
    assert(GraftSequence.df(spark, 10, 10).count() == 0)
    assert(GraftSequence.df(spark, 0, 100).filter(col("id") >= 200).count() == 0)
  }

  test("Long.MaxValue boundary literals do not wrap the folded bounds") {
    val max = Long.MaxValue
    // id > MAX is always false: v+1 would wrap to Long.MinValue and fold
    // lo to -inf, returning ALL rows. Must return none.
    assert(GraftSequence.df(spark, 0, 100).filter(col("id") > max).count() == 0)
    // id <= MAX is always true: the wrapped hi would empty the range.
    assert(GraftSequence.df(spark, 0, 100).filter(col("id") <= max).count() == 100)
    // id = MAX: no row of [0, 100) matches, and no wrap-around either.
    assert(GraftSequence.df(spark, 0, 100).filter(col("id") === max).count() == 0)
  }
}
