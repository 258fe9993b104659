package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session factory. Every main and the test suite build their
  * session here, so the confs cannot drift apart between them. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session; `extra` confs are applied last, so they
    * override the defaults below. */
  def local(cpus: Int = defaultCpus, extra: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      // GraftStrategy must be present to plan the seq_spine custom leaf
      // (and to resolve the graft_* SQL names).
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      // AQE owns the post-shuffle partition count: start over-partitioned
      // (4× cores here; on a real cluster a few× total executor cores) and
      // let coalescing shrink each stage from runtime statistics.
      .config("spark.sql.shuffle.partitions", cpus * 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // STATIC conf, default 100: the whole-stage-codegen class cache. A
      // full board generates ~1000 distinct codegen classes, so at the
      // default size every rerun has been evicted and pays Janino
      // compilation again (a rerun inside the board stayed at its first-
      // sample time while a fresh 1-query JVM's second iteration dropped 2×).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // events.ts is parquet TIMESTAMP(NANOS); Tables.load converts to µs.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop everything a query cached or checkpointed, so the next
    * measurement starts clean. clearCache() does not reach localCheckpoint
    * blocks (they are persistent RDDs, not catalog entries); the blocking
    * unpersist frees their block-manager memory now instead of leaving it
    * to the asynchronous ContextCleaner. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
