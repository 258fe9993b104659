package enginebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's measuring process: one JVM, one client thread, a closed
  * loop over one workload. `run.py` builds it, starts it, and prints its
  * result; see README.md for the workloads and every metric.
  *
  *   enginebench.Main generate <tablesDir>     (idempotent)
  *   enginebench.Main run <workload> <seed> <seconds> <trace 0|1> <tablesDir>
  *                        <runDir> <digestsFile> <resultFile> [record]
  */
object Main {

  /** Local[N]: fixed so every run of every commit plans for the same width. */
  val MaxCpus = 4

  def main(argv: Array[String]): Unit = argv.toList match {
    case "generate" :: dir :: Nil =>
      // Also the launcher's class-data-sharing training run: one session
      // and one query load the classes every measured run starts with.
      val spark = session(Paths.get(sys.props("java.io.tmpdir")))
      try { Gen.writeTables(spark, Paths.get(dir)); sentinel(spark, dir) } finally spark.stop()
    case "run" :: w :: seed :: secs :: tr :: tables :: runDir :: digests :: result :: rest =>
      val ok = run(Config(w, seed.toLong, secs.toInt, tr == "1", tables, Paths.get(runDir),
        Paths.get(digests), Paths.get(result), rest == List("record")))
      sys.exit(if (ok) 0 else 1)
    case _ =>
      System.err.println("usage: see the enginebench.Main scaladoc")
      sys.exit(2)
  }

  final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
      tables: String, runDir: Path, digests: Path, result: Path, record: Boolean)

  def cpus: Int = math.min(MaxCpus, Runtime.getRuntime.availableProcessors)

  /** The session every run uses; `spark.local.dir` sits under the run's own
    * directory (the launcher points java.io.tmpdir there too). */
  def session(runDir: Path): SparkSession = {
    val n = cpus
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$n]")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .config("spark.sql.shuffle.partitions", n * 4)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", n * 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One timed unit: an op (a drop landed, a query written to `noop`) or a
    * maintenance call. `span` is its root span id. */
  final case class Rec(name: String, op: Boolean, span: Int, wallS: Double, ok: Boolean,
      gcS: Double, gcN: Long)

  /** Everything a workload reports back to [[run]]. */
  final class Outcome {
    val recs: mutable.ArrayBuffer[Rec] = mutable.ArrayBuffer()
    var rows = 0L
    /** Untimed correctness checks made outside any timed unit. */
    var checks = 0
    var checkFailed = 0
    var failures: List[String] = Nil
    val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
    val detail: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  }

  /** The release epilogue between ops, as graft.Bench runs it (untimed). */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Runs one workload and writes the result file; false on any failure. */
  def run(c: Config): Boolean = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    Files.createDirectories(c.runDir)
    val loadStart = loadAvg()
    val work: Workload = c.workload match {
      case "ingest" => new IngestLoad(c)
      case "relational" => new Queries(c, Queries.Relational)
      case "corpus" => new Queries(c, Queries.Corpus)
      case other => sys.error(s"unknown workload $other")
    }
    // Input generation is excluded from setup_s: its time is subtracted.
    val genT0 = System.nanoTime()
    work.generate()
    val genS = (System.nanoTime() - genT0) / 1e9

    val spark = session(c.runDir)
    val sessionS = Tracer.nowS - jvmStartS - genS
    val tracer = new Tracer(spark, c.trace)
    val out = new Outcome
    val liveMb = mutable.ArrayBuffer[Double]()
    def releaseAndSample(): Unit = {
      release(spark)
      liveMb += Tracer.oldGenMb()
    }
    val ctx = new Ctx(spark, c, tracer, out, () => releaseAndSample())

    work.warm(ctx)
    val sentinelBefore = sentinel(spark, c.tables)
    val codegenSetup = Tracer.codegenS()
    val buildsAfterWarm = graft.core.Warehouse.buildSecs.size
    val timedStartS = Tracer.nowS
    val setupS = timedStartS - jvmStartS - genS
    // Warm-pass units are checked (digests, generator counts) but not timed.
    val (warmUnits, warmFailed) = (out.recs.size, out.recs.count(!_.ok))
    out.detail("warm_s") = out.recs.map(r => s"${r.name}=${"%.3f".format(r.wallS)}")
    liveMb.clear()
    val codegen0 = Tracer.codegenS()
    out.recs.clear()
    work.timed(ctx)
    val codegenTimed = Tracer.codegenS() - codegen0
    val buildsTimed = graft.core.Warehouse.buildSecs.size - buildsAfterWarm
    val sentinelAfter = sentinel(spark, c.tables, warm = false)
    tracer.drain()

    out.detail("timed_s") = out.recs.map(r => s"${r.name}=${"%.3f".format(r.wallS)}")
    val ops = out.recs.filter(_.op)
    val okOps = ops.filter(_.ok).map(_.wallS).toSeq
    val wallS = out.recs.map(_.wallS).sum
    val attempted = warmUnits + out.recs.size + out.checks
    val failed = warmFailed + out.recs.count(!_.ok) + out.checkFailed
    val (tailP, tailV) = if (okOps.nonEmpty) Stats.tail(okOps) else (100, 0.0)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "wall_s" -> (wallS, "s"),
      "op_p50_s" -> ((if (okOps.nonEmpty) Stats.median(okOps) else 0.0), "s"),
      "op_tail_s" -> (tailV, "s"),
      "rows_per_s" -> (out.rows / math.max(wallS, 1e-9), "rows/s"),
      "setup_s" -> (setupS, "s"),
      "heap_live_peak_mb" -> ((if (liveMb.nonEmpty) liveMb.max else 0.0), "MiB"))
    out.detail("heap_live_mb") = liveMb.map(m => "%.1f".format(m))

    if (c.trace) {
      tracer.close()
      Layers.report(ctx, work, codegenTimed, codegenSetup, buildsTimed)
      work.probe(ctx)
    }
    val regime = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors, "local_n" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
      "seed" -> c.seed, "seconds" -> c.seconds, "trace" -> c.trace,
      "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg(),
      "sentinel_before_s" -> sentinelBefore, "sentinel_after_s" -> sentinelAfter,
      "input_gen_s" -> genS, "session_ready_s" -> sessionS)
    val samples = mutable.LinkedHashMap[String, Any](
      "ops" -> ops.size, "ops_ok" -> okOps.size, "maintenance_calls" -> out.recs.count(!_.op),
      "op_tail_percentile" -> tailP, "op_tail_n" -> okOps.size,
      "op_fail_ratio" -> ops.count(!_.ok).toDouble / math.max(ops.size, 1),
      "warm_units_checked" -> warmUnits, "checks" -> out.checks,
      "warehouse_builds_timed" -> buildsTimed)
    spark.stop()
    val correct = failed == 0 && out.failures.isEmpty
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> c.workload, "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "failures" -> out.failures.reverse,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> out.layers.map { case (k, v) => k -> Map("value" -> v, "unit" -> Layers.unit(k)) },
      "samples" -> samples, "regime" -> regime, "detail" -> out.detail)
    Files.write(c.result, Json.render(doc).getBytes(UTF_8))
    correct
  }

  /** One-minute load average (the machine-regime stamp). */
  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** graft.Bench's fixed-shape sentinel: lineitem scan plus aggregate, one
    * untimed warm run then one timed run, each followed by the epilogue. */
  def sentinel(spark: SparkSession, tables: String, warm: Boolean = true): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$tables/lineitem.parquet")
        .filter(col("l_quantity") > 25)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_extendedprice")).as("s"), count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      release(spark)
      t
    }
    if (warm) once()
    once()
  }
}

/** What a workload sees of the run. */
final class Ctx(val spark: SparkSession, val conf: Main.Config, val tracer: Tracer,
    val out: Main.Outcome, releaseFn: () => Unit) {

  /** Time one op or maintenance call as a root span, then run the
    * epilogue untimed. A throw or a failed `check` marks it failed. */
  def timed(name: String, op: Boolean)(body: => Boolean): Unit = {
    val (gc0, n0) = Tracer.gc()
    var ok = false
    val t0 = System.nanoTime()
    try ok = tracer.span(name)(body)
    catch {
      case e: Throwable =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (gc1, n1) = Tracer.gc()
    // The root span closes last, so it is the newest span recorded.
    out.recs += Main.Rec(name, op, tracer.spans.last.id, wall, ok, gc1 - gc0, n1 - n0)
    releaseFn()
  }

  /** An untimed correctness check outside any timed unit. */
  def check(what: String)(cond: => Boolean): Unit = {
    out.checks += 1
    val ok = try cond catch { case e: Throwable => fail(s"$what: $e"); false }
    if (!ok) { out.checkFailed += 1; fail(what) }
  }

  def fail(msg: String): Unit = {
    System.err.println(s"[enginebench] FAILED $msg")
    out.failures = msg :: out.failures
  }

  def release(): Unit = releaseFn()
}

/** A workload: input generation (excluded from setup), an untimed warm
  * phase, the timed phase, and the layer numbers only it can give. */
trait Workload {
  def generate(): Unit
  def warm(ctx: Ctx): Unit
  def timed(ctx: Ctx): Unit
  /** Workload-specific per-layer metrics (traced run only). */
  def layers(ctx: Ctx): Unit
  /** Untimed probe after the timed phase (traced run only). */
  def probe(ctx: Ctx): Unit = Probe.run(ctx)
}
