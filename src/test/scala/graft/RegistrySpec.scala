package graft

import org.scalatest.funsuite.AnyFunSuite

/** Integrity of the query registry derived from [[SparkEntry.modules]]:
  * the checks a silent `Map ++` collision or a forgotten oracle would
  * otherwise slip past. Pure metadata — no Spark job runs. */
class RegistrySpec extends AnyFunSuite {
  private def dups(keys: Seq[String]): Set[String] =
    keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }.toSet

  test("query and oracle keys are unique across modules") {
    assert(dups(SparkEntry.modules.flatMap(_.all.keys)).isEmpty,
      "query keys registered twice")
    assert(dups(SparkEntry.modules.flatMap(_.oracle.keys)).isEmpty,
      "oracle keys registered twice")
  }

  test("every oracle key has a builder") {
    assert(SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet == Set.empty[String])
  }

  test("the rows-only (no oracle) set is exactly the approximate queries") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set(
      "agg_approx", "agg_hll_merge", "agg_qsketch", "freq_mg", "win_rolling_qsketch"))
  }

  test("the smoke board names only registered queries") {
    assert(Bench.smokeBoard -- SparkEntry.queries.keySet == Set.empty[String])
  }
}
