package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** Table access + canonicalization helpers shared by every query.
  *
  * The testdata tables (see /root/repo/TESTDATA.md) are plain parquet files,
  * one per table. Loading is a bare `spark.read.parquet` so Catalyst keeps
  * full pushdown/pruning freedom — no caching, no repartition here; each
  * query declares its own distribution needs.
  *
  * Determinism rules (SURVEY.md §5.3) live here so Spark queries and the
  * DuckDB oracle SQL stay in lock-step:
  *   - money/measure sums are computed over DECIMAL(38,4), never raw double
  *   - averages are decimal-sum cast to double, divided by count, re-cast
  *   - every result ends with a total ORDER BY (asc nulls first)
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one testdata table.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS): Spark has no nanosecond
    * timestamp type, so sessions set `spark.sql.legacy.parquet.nanosAsLong`
    * and we truncate here to microseconds (`ts div 1000`, floor) — exactly
    * what DuckDB's `CAST(ts AS TIMESTAMP)` does, keeping the oracle aligned
    * (SURVEY §5.3 / §7.4). At 100 TB scale you'd land µs timestamps so scan
    * pushdown on ts survives; the conversion cost here is one codegen'd
    * projection.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      // Driver testdata: TIMESTAMP(NANOS) read as long via nanosAsLong.
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // Files from other writers may carry TIMESTAMP_NTZ; with the session
      // pinned UTC the wall time IS the instant — normalize so downstream
      // `ts` arithmetic (casts to long seconds, window frames) keeps
      // working instead of failing on the NTZ type.
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", to_timestamp(col("ts")))
      case _ => df
    }
  }

  /** DECIMAL(38,4) — the canonical exact aggregation type (SURVEY §5.3). */
  val dt: DecimalType = DecimalType(38, 4)

  /** Cast a measure to the canonical decimal BEFORE aggregating. */
  def dec(c: Column): Column = c.cast(dt)

  /** Portable round-half-up-at-4-decimals for COMPUTED doubles.
    *
    * Engines disagree on double→decimal tie-breaking (Spark rounds the
    * shortest decimal rendering half-up; DuckDB rounds the binary expansion
    * half-even), and products of 2-decimal inputs land exactly on the
    * 4th-decimal tie ~1% of the time. floor(x*1e4+0.5)/1e4 is pure IEEE
    * double arithmetic, so both engines compute the identical double and the
    * final decimal cast is never within an engine-dependent tie.
    * DuckDB twin: `CAST(floor((x)*10000+0.5)/10000 AS DECIMAL(38,4))`.
    */
  def dec4(c: Column): Column =
    (floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)).cast(dt)

  /** 8-decimal sibling of [[dec4]], for per-term float quantities that
    * get SUMMED over data-sized term counts (at dec4 the ~1/|terms|
    * contributions would quantize to zero; at dec8 the worst-case
    * accumulation error over 10⁴ terms is 1e-4 while both engines still
    * floor the identical IEEE double). DuckDB twin:
    * `CAST(floor((x)*100000000+0.5)/100000000 AS DECIMAL(38,8))`. */
  val dt8: DecimalType = DecimalType(38, 8)
  def dec8(c: Column): Column =
    (floor(c * lit(1.0e8) + lit(0.5)) / lit(1.0e8)).cast(dt8)

  /** Exact decimal sum of a RAW (≤2 decimal places) measure column. */
  def dsum(c: Column): Column = sum(dec(c)).cast(dt)

  /** Exact decimal sum of a COMPUTED double expression (tie-safe per-row cast). */
  def dsum4(c: Column): Column = sum(dec4(c)).cast(dt)

  /** Order-insensitive average: exact decimal sum -> double -> / count,
    * tie-safe rounded. DuckDB twin:
    * `CAST(floor((CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DOUBLE)/COUNT(1))*10000+0.5)/10000 AS DECIMAL(38,4))`. */
  def davg(c: Column): Column =
    dec4(sum(dec(c)).cast("double") / count(lit(1)))

  /** Canonical string rendering of a decimal-valued OUTPUT column.
    *
    * The driver's comparator loads both results into pandas: Spark's parquet
    * DECIMAL becomes `decimal.Decimal` objects while DuckDB's DECIMAL becomes
    * float64 — they can never hash-equal. So every decimal-typed output is
    * rendered as its plain scale-4 string ("123.4500") in BOTH engines:
    * Spark `cast(dec AS string)` == Java BigDecimal.toString == DuckDB
    * `CAST(dec AS VARCHAR)` for scale 4 (always plain notation). The decimal
    * arithmetic itself stays exact; only the final rendering changes. */
  def cstr(c: Column): Column = c.cast("string")

  // String-rendered variants of the aggregate helpers, for OUTPUT columns.
  def dsumS(c: Column): Column = cstr(dsum(c))
  def dsum4S(c: Column): Column = cstr(dsum4(c))
  def davgS(c: Column): Column = cstr(davg(c))
  def dec4S(c: Column): Column = cstr(dec4(c))
  def decS(c: Column): Column = cstr(dec(c))

  /** Canonical string for a float ARRAY output column: each element cast to
    * double, tie-safe rounded to 4 decimals, rendered scale-4, joined by ",".
    * (pandas cannot sort/hash ndarray cells, so arrays never leave the engine
    * raw.) DuckDB twin: `array_to_string(list_transform(a, x ->
    * CAST(CAST(floor(CAST(x AS DOUBLE)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR)), ',')`. */
  def farrS(c: Column): Column =
    array_join(transform(c, x => cstr(dec4(x.cast("double")))), ",")

  /** Canonical string for an int/string ARRAY output column. */
  def arrS(c: Column): Column = array_join(c.cast("array<string>"), ",")

  /** Total order on all output columns, asc nulls first (matches the
    * `ORDER BY ... NULLS FIRST` the oracle SQL spells out). */
  def ordered(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)

  /** Hash-repartition by `key, more*` at an explicit 2× defaultParallelism
    * (which scales with executors on a cluster). Two uses:
    *   - spread a narrow scan across cores before an expensive per-row
    *     projection: the documents table is one parquet split at test
    *     scale, so shingling/hashing otherwise runs at scan parallelism 1;
    *   - keep an exchange wide that AQE would coalesce to its tiny INPUT
    *     byte size when the downstream join or window fans out (the
    *     §4.4.3 narrow-probe trap); AQE respects a user-specified count.
    * At real corpus scale the scan has thousands of splits and this
    * exchange is a no-op cost relative to the pipeline. */
  def spread(df: DataFrame, key: String, more: String*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism * 2,
      (key +: more).map(col): _*)

  /** Eager local checkpoint at SERIALIZED storage — the canonical way every
    * query materializes a multiply-read intermediate (posting tables,
    * signature tables, iteration state).
    *
    * Why not the `localCheckpoint()` default (MEMORY_AND_DISK,
    * deserialized): a deserialized posting-sized block is millions of
    * long-lived row OBJECTS sitting in the old generation while 32 task
    * threads churn the young one — under concurrent-board load that is the
    * dominant GC term, and it is exactly the profile of the r6 driver board
    * where every checkpoint-heavy query ran 4-6x its quiet-machine floor
    * while checkpoint-free queries held ~1.3x (VERDICT r6). A serialized
    * block is ONE byte array per partition: near-invisible to the GC
    * scanner, ~3-5x smaller (so far less eviction/spill under storage
    * pressure), at the price of per-read deserialization that is itself a
    * tight codegen'd loop over UnsafeRow bytes. Same reasoning holds on a
    * real cluster: executor heaps are shared by concurrent tasks, and
    * MEMORY_AND_DISK_SER is the standard prescription for cached
    * intermediates that are written once and scanned a handful of times.
    * The storage-level override needs the eager flavor (Spark 4's
    * `localCheckpoint(eager, level)`), which all call sites want anyway —
    * lineage truncation at build time is the point. */
  def pin(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

  /** `.pinned` postfix sugar for [[pin]] (reads naturally at the end of the
    * builder chains the query bodies are written as). */
  implicit class PinSyntax(private val df: DataFrame) {
    def pinned: DataFrame = pin(df)
  }
}
