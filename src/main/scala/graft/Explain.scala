package graft

/** Dev tool: print the formatted physical plan of one or more queries —
  * `runMain graft.Explain <sfDir> <query> [query ...]`. Used to audit
  * pushdown (PushedFilters/ReadSchema), broadcast choices, codegen spans,
  * and shuffle shape per operator. `SPARK_GRAFT_FINAL=1` additionally
  * EXECUTES each query (noop sink) and prints the final adaptive plan —
  * the only way to see what AQE actually did at runtime (skew-join
  * splits, coalesced partition counts, runtime-reused exchanges), none
  * of which exist in the static `isFinalPlan=false` rendering. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val wantFinal = sys.env.get("SPARK_GRAFT_FINAL").contains("1")
    val spark = GraftSession.local()
    args.tail.foreach { name =>
      println(s"========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      if (wantFinal) {
        // Execute THIS queryExecution (a sink write would clone it and
        // leave this plan un-materialized at isFinalPlan=false), then the
        // cached AdaptiveSparkPlan renders its final stages: skew splits,
        // coalesce decisions, runtime broadcast conversions, reuse.
        df.queryExecution.toRdd.foreach(_ => ())
        println(s"---------- $name: final adaptive plan ----------")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
