package graft

/** Steady-state query timer (dev tool, not part of the driver contract):
  * `SPARK_GRAFT_PROF=q1,q2 sbt "runMain graft.Prof"` runs each named
  * query 3x with a noop write in one session, so codegen/AQE warmup is
  * visible and the last iteration approximates steady state. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CONF="k=v;k2=v2": extra session confs for A/B plan
    // experiments (e.g. toggling AQE coalescing) without editing code.
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = GraftSession.local(extra = extra)
    val names = sys.env.get("SPARK_GRAFT_PROF").map(_.split(",").toSeq)
      .getOrElse(args.toSeq)
    // SPARK_GRAFT_COUNT=1: also report the output row count once per query
    // (untimed, separate action) — used by the §4.4.8 output-blowup probes,
    // where the interesting number is how the RESULT grows, not just the time.
    val wantCount = sys.env.get("SPARK_GRAFT_COUNT").contains("1")
    // SPARK_GRAFT_ITERS: iterations per query (default 3). The 3-run
    // steady-state convention is for sub-30s queries where warmup dominates;
    // multi-minute probe runs use 1 — warmup skew is negligible there.
    val iters = sys.env.get("SPARK_GRAFT_ITERS").map(_.toInt).getOrElse(3)
    // SPARK_GRAFT_JOBS=1: per-iteration job census — how many Spark jobs
    // the query launches, their summed wall time, and the residual gap
    // (wall − Σjob = driver work: Catalyst planning, codegen, broadcast
    // builds, checkpoint bookkeeping). At sf0.1 most board queries are
    // fixed-cost-dominated, so THIS split (not stage CPU) is the first
    // optimization question: too many sequential jobs → remove barriers;
    // big gap → shrink the plan.
    // SPARK_GRAFT_JOBS=2 additionally prints one line per job (id,
    // duration, #stages, first-stage name) — which barrier is which.
    val wantJobs = sys.env.get("SPARK_GRAFT_JOBS").exists(v => v == "1" || v == "2")
    val verboseJobs = sys.env.get("SPARK_GRAFT_JOBS").contains("2")
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
    if (wantJobs) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js0: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobStarts.put(js0.jobId, System.nanoTime())
          if (verboseJobs) {
            val s0 = js0.stageInfos.headOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")
            System.err.println(f"[job] start ${js0.jobId}%4d stages=${js0.stageInfos.size}%2d $s0")
          }
        }
        override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (verboseJobs) {
            val si = sc.stageInfo
            val dur = (for (s <- si.submissionTime; e <- si.completionTime) yield e - s).getOrElse(-1L)
            val run = si.taskMetrics.executorRunTime
            System.err.println(f"[stage] ${si.stageId}%4d tasks=${si.numTasks}%4d wall=${dur / 1e3}%6.2f run=${run / 1e3}%7.2f ${si.name.takeWhile(_ != '\n').take(80)}")
          }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = jobStarts.remove(je.jobId)
          if (s != null) {
            val el = System.nanoTime() - s
            jobCount.incrementAndGet(); jobNanos.addAndGet(el)
            if (verboseJobs)
              System.err.println(f"[job]  end  ${je.jobId}%4d ${el / 1e9}%6.2f s")
          }
        }
      })
    for (name <- names) {
      for (i <- 1 to iters) {
        jobCount.set(0); jobNanos.set(0L)
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[prof] $name #$i $wall%8.2f s" + (
          if (wantJobs) f" jobs=${jobCount.get()}%3d jobTime=${jobNanos.get() / 1e9}%6.2f gap=${wall - jobNanos.get() / 1e9}%6.2f"
          else ""))
        // Same untimed cleanup as Bench, so iterations measure the query,
        // not predecessors' leftovers.
        GraftSession.release(spark)
      }
      if (wantCount) {
        System.err.println(s"[prof] $name rows=${SparkEntry.queries(name)(spark, sfDir).count()}")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
