package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** SPARK_GRAFT_BOARD=smoke: the per-family smoke board — one or two
    * headline queries per §2 family (~20 queries, ~60 s) so a round can
    * gate on a fast signal without running the full 250+-query board
    * (which keeps growing with every added query). The full board stays
    * the committed artifact; the smoke board is the iteration loop. */
  val smokeBoard: Set[String] = Set(
    "agg1", "join2", "win1", "srt1", "pvt1",              // relational core
    "ddp_minhash", "ddp_ngram", "sim1_ivf", "ddp_exact",  // dedup / ANN
    "ivf_pq",                                             // composed IVFADC
    "txt_quality", "bpe_train", "tfidf1",                 // text / tokenizer
    "funnel", "ivl_merge", "cdc_apply", "rate_audit",     // events
    "drift_ks", "auc_roc", "corr_matrix",                 // stats / eval
    "graph_triangles", "skyline", "ewma",                 // analytics
    "ingest_csv", "snap_read", "mm2_decode")              // io / snapshot / mm

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Full-plan action: the noop sink consumes every output row, so Catalyst
    // cannot prune projections or drop final sorts the way it can under
    // count() — timings reflect the plan a real sink would pay for.
    val failed = scala.collection.mutable.ListBuffer[String]()
    // Optional comma-separated query-name filter for focused local iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val board = sys.env.get("SPARK_GRAFT_BOARD") match {
      case Some("smoke") => Some(smokeBoard)
      case _             => None
    }
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) && board.forall(_.contains(n)) }
    // Untimed warmup: executor startup, parquet footer reads, and the
    // first codegen compilations otherwise land on whichever query map
    // iteration order puts first (measured ~5s on a sub-second query).
    // One tiny action per table FAMILY — adding queries reshuffles map
    // iteration order, and with a lineitem-only warmup the first
    // documents/events query absorbed that family's scan+codegen warmup,
    // showing up as a phantom round-over-round "regression".
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_returnflag")).agg(count(col("l_orderkey")))
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"),
          regexp_count(col("text"), lit("[a-z]+")).as("n"))
        .groupBy(col("w")).agg(sum(col("n")))
        .write.format("noop").mode("overwrite").save()
      graft.core.Tables.load(spark, sfDir, "events")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"))))
        .groupBy(col("event_type")).agg(count(col("rn")))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // UNTIMED build pre-pass (r13 verdict task 3): force every
    // Warehouse.once dataset BEFORE any query is timed, so board samples
    // measure steady state only. Previously each one-time build landed
    // inside whichever consumer ran first (desc-by-prior order put the
    // gram+model build on lr_eval this round, +18% on unchanged code),
    // and an order change could migrate a multi-second build onto a
    // sub-second query and fake a 2x floor breach. Build costs stay
    // visible: each is timed here and shipped as board["builds"].
    // Full board only — a focused/smoke run is an iteration loop and
    // should not pay ~20 builds for 1-20 queries (set
    // SPARK_GRAFT_PREBUILD=1 to force, e.g. when profiling a
    // build-consuming query's steady state in isolation).
    val fullBoard = only.isEmpty && board.isEmpty
    val builds = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (fullBoard || sys.env.contains("SPARK_GRAFT_PREBUILD")) {
      SparkEntry.prebuilds.foreach { case (name, force) =>
        val t0 = System.nanoTime()
        try {
          force(spark, sfDir)
          builds(name) = (System.nanoTime() - t0) / 1e9
        } catch { case t: Throwable =>
          // A failed build is NOT fatal to the board: its consumers will
          // retry it inline (and fail visibly there if it is real).
          System.err.println(s"[bench] prebuild $name FAILED: ${t.getMessage}")
        }
      }
      // Same epilogue as a measurement: whatever the builds cached or
      // checkpointed must not ride into the first timed query.
      GraftSession.release(spark)
      System.gc()
    }
    // Machine-regime SENTINEL (r12 verdict task 4): one tiny FIXED-SHAPE
    // probe (scan + map-side-combined agg on lineitem — no window, no
    // join, ~0.2 s steady) timed at board start / middle / end with the
    // same epilogue as every measurement. The three timings ship in the
    // board JSON, so a machine-regime shift (GC ergonomics, co-tenant,
    // JIT churn) is MEASURED in-band instead of diagnosed post-hoc from
    // fresh-JVM Prof sessions (the r11→r12 floor re-truing took a day of
    // steady-state audits to attribute): identical code + drifting
    // sentinel = regime, stable sentinel + one drifting query = plan.
    // scripts/true_floors.py reads and annotates the triple.
    def sentinelOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      // A failed probe ships -1.0, NOT its time-to-abort (ADVICE r13): a
      // missing lineitem.parquet or transient read error aborts in
      // near-zero time, and a plausible-looking tiny sample would read as
      // a spurious regime shift downstream; true_floors.py treats
      // non-positive samples as absent and falls back to the rest of the
      // triple.
      val e =
        try {
          spark.read.parquet(s"$sfDir/lineitem.parquet")
            .filter(col("l_quantity") > 25)
            .groupBy(col("l_returnflag"), col("l_linestatus"))
            .agg(sum(col("l_extendedprice")).as("s"), count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case t: Throwable =>
          System.err.println(s"[bench] sentinel probe FAILED: ${t.getMessage}")
          -1.0
        }
      GraftSession.release(spark)
      System.gc()
      e
    }
    // One untimed warmup first: the probe's own whole-stage-codegen class
    // compiles exactly once per JVM, and letting that land in the START
    // sample would fake a permanent start-vs-end "drift" of ~3x.
    sentinelOnce()
    val sentinelStart = sentinelOnce()
    var sentinelMid = 0.0
    // Prior-round reference timings (bench_prior.json, committed each round
    // from the previous BENCH artifact). A first sample >=1.5x its prior is
    // treated as suspect-noisy and re-measured even when it is expensive:
    // r5 shipped an unexplained 2.3x "regression" on unchanged code (fzj1
    // 4.96s -> 11.36s) purely because the sub-5s-only rerun rule could
    // never correct a noisy sample that lands above 5s.
    val prior: Map[String, Double] =
      Seq("bench_prior.json", "/root/repo/bench_prior.json")
        .map(java.nio.file.Paths.get(_)).find(java.nio.file.Files.exists(_))
        .map { p =>
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
            .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
        }.getOrElse(Map.empty)
    // Queries whose rerun (not first run) failed: the first sample is valid,
    // but the flakiness must stay visible in the artifact rather than being
    // silently erased (a ~50% failure could otherwise ship a green bench).
    val rerunFailed = scala.collection.mutable.ListBuffer[String]()
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      // Timing stops BEFORE cache cleanup so unpersisting one query's
      // intermediates is never billed to it (or its successor).
      val elapsed = (System.nanoTime() - t0) / 1e9
      // Drop what the query cached or checkpointed so measurements stay
      // independent (without the blocking drop: resample 13.3 s late in the
      // board vs 5.9 s steady in a fresh JVM).
      GraftSession.release(spark)
      // GC still helps: codegen classes and broadcast refs go through
      // weak/soft reference queues the block drop above does not touch.
      System.gc()
      (elapsed, ok)
    }
    // Board order: most-expensive first (by committed floor; unknown new
    // queries last). The r6 driver board showed the checkpoint-heavy
    // queries at 4-6x their floors while sub-second queries held ~1.3x —
    // and the heap-pressure terms that hit them (old-gen occupancy from
    // 140 queries' allocation history, metaspace/codegen growth, GC
    // ergonomics adapting to the board's churn) all accumulate
    // monotonically over a board run. Map-iteration order put the heavies
    // wherever hashing landed them; running them first hands each one the
    // freshest JVM it can get. Measurement independence is unchanged: each
    // query still gets the same blocking block-drop + GC epilogue.
    val half = selected.size / 2
    val results0: Seq[(String, Double)] = selected.toSeq
      .sortBy { case (name, _) => -prior.getOrElse(name, 0.0) }
      .zipWithIndex
      .flatMap { case ((name, fn), idx) =>
      if (idx == half) sentinelMid = sentinelOnce()
      val (first, firstOk) = timeOnce(name, fn)
      if (!firstOk) {
        // A failed run's time-to-abort is not a measurement: recording it
        // would deflate the total while sitting alongside real timings.
        // `failed` is the only record of this query.
        failed += name
        None
      } else {
        // Re-measure when (a) the query is cheap — a single sample under
        // co-tenant load cannot distinguish a plan regression from a noisy
        // neighbor (r4 recorded 12.07s for a query that reruns at 5.0s) —
        // or (b) the sample is >=1.35x the committed steady-state floor,
        // which is exactly the shape of a noisy-but-expensive outlier
        // (1.5x let a 1.4x-inflated 10s query ship unrerun; the extra
        // reruns are untimed wall-clock, not artifact noise).
        val suspectVsPrior = prior.get(name).exists(p => first >= 1.35 * p)
        val best0 =
          if (first < 5.0 || suspectVsPrior) {
            val (second, secondOk) = timeOnce(name, fn)
            if (!secondOk) {
              // The RERUN failed after a clean measured run: keep the valid
              // first sample but record the flake in rerun_failed.
              rerunFailed += name
              first
            } else math.min(first, second)
          } else first
        // NOTE (r12): no inline third sample here. r11 proved a localized
        // multi-x disturbance window (GC/JIT/co-tenant, run positions
        // 62-135) outlasts back-to-back reruns: 10 queries breached the
        // 2x floor gate with immediate reruns inside the same window,
        // while the SAME board's back half ran 30-40% UNDER floors on
        // unchanged code. Breach resolution moved to the post-board
        // requeue pass below — by the time the full board has drained,
        // the transient regime is over, so a transient cannot breach
        // twice while a genuine plan regression still ships (both
        // samples agree).
        Some(name -> best0)
      }
    }
    // Post-board breach requeue (r12, the r11 verdict's task 1): any query
    // whose best board sample still reads >=2x its committed floor gets ONE
    // re-timing after the whole board pass, and ships min(sample, retime).
    // Timing epilogue (blocking block drop + GC) is identical to the main
    // pass, so the retime is a fair sample of the same measurement, just
    // taken outside whatever regime window the board pass was in.
    val results: Seq[(String, Double)] = {
      val fns = selected
      results0.map { case (name, t) =>
        // rerunFailed queries are excluded: their inline rerun ERRORED, and
        // a further run of a known-flaky query is more flake exposure, not
        // insurance (the deleted third-sample rule's rationale, kept here).
        if (!rerunFailed.contains(name) &&
            prior.get(name).exists(p => t >= 2.0 * p)) {
          System.err.println(f"[bench] requeue $name: board sample $t%.2fs >= 2x floor")
          val (again, ok) = timeOnce(name, fns(name))
          if (ok) name -> math.min(t, again)
          else { rerunFailed += name; name -> t }
        } else name -> t
      }
    }
    // A focused SPARK_GRAFT_ONLY run selecting zero queries never reaches
    // the mid-board index (and a one-query run fires it before the query);
    // measure the mid sample here rather than shipping mid:0.0, which
    // true_floors.py would have to treat as an incomplete triple (ADVICE
    // r13). -1.0 (a failed probe) is a real marker and is NOT re-measured.
    if (sentinelMid == 0.0) sentinelMid = sentinelOnce()
    val sentinelEnd = sentinelOnce()
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    def names(b: scala.collection.Seq[String]) = b.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sent = s"""{"start":${r3(sentinelStart)},"mid":${r3(sentinelMid)},"end":${r3(sentinelEnd)}}"""
    // One-time Warehouse builds, timed in the untimed pre-pass above —
    // separate from query samples by design (floors read "queries" only;
    // "builds" is the amortized-term ledger a human or the judge reads).
    val bjs = builds.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":${names(failed)},"rerun_failed":${names(rerunFailed)},"sentinel":$sent,"builds":$bjs,"sf":"$sfDir"}"""
    // The r4 driver failed to parse the bench output: the one JSON line
    // (87 full-precision timings) overflowed its stdout tail-capture
    // window. Belt and braces: persist the document to a file the driver
    // (or a human) can always read, keep the printed line short (3-dp
    // timings), and emit it after spark.stop() so no shutdown logging
    // lands between it and the end of stdout.
    //
    // Clobber discipline (r12, the r11 verdict's task 7): bench_out.json
    // is the LATEST-RUN scratch file — every invocation (focused, smoke,
    // driver) overwrites it, so it is gitignored and never the committed
    // artifact. The committed clean board lives at bench_clean.json, a
    // name this main never writes: round close copies a verified full
    // board there explicitly (SPARK_GRAFT_BOARD_OUT=bench_clean.json).
    // SPARK_GRAFT_BOARD_OUT is honored ONLY for a full board: a focused
    // or smoke run with the env var lingering in the shell would
    // otherwise overwrite the committed clean board with a partial one —
    // the exact clobber this split exists to retire (review r12).
    // ... and only for a CLEAN one: a full-selection run with failures
    // drops those queries from `results`, which is the same partial-board
    // clobber via result completeness instead of selection (review r12).
    val boardOut = sys.env.get("SPARK_GRAFT_BOARD_OUT").filter { f =>
      if (!fullBoard) System.err.println(
        s"[bench] ignoring SPARK_GRAFT_BOARD_OUT=$f: partial board " +
          s"(${selected.size}/${SparkEntry.queries.size} queries)")
      else if (failed.nonEmpty) System.err.println(
        s"[bench] ignoring SPARK_GRAFT_BOARD_OUT=$f: board has failures " +
          s"(${failed.mkString(",")})")
      fullBoard && failed.isEmpty
    }
    val outs = Seq("bench_out.json") ++ boardOut
    outs.foreach { f =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(f), (json + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] $f write failed: ${e.getMessage}") }
    }
    spark.stop()
    println(json)
  }
}
