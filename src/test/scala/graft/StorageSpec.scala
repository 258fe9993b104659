package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** Physical-layout levers for the 100 TB design point: bucketing
  * co-locates equi-join keys at WRITE time so the join itself needs no
  * exchange — the shuffle is paid once when the table lands, not on every
  * downstream join. */
class StorageSpec extends AnyFunSuite {
  import TestSpark._

  test("bucketed tables co-locate the join: zero shuffle exchanges in the plan") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      Tables.load(spark, sfDir, "orders").write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
      Tables.load(spark, sfDir, "lineitem").write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("l_extendedprice"))
      joined.write.format("noop").mode("overwrite").save()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed equi-join must not shuffle either side:\n$plan")
      // Same join over the raw parquet DOES shuffle — the bucketing is
      // what removed it, not the data size.
      val unbucketed = Tables.load(spark, sfDir, "lineitem")
        .join(Tables.load(spark, sfDir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("l_extendedprice"))
      unbucketed.write.format("noop").mode("overwrite").save()
      assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
      // And the bucketed join returns the same rows.
      assert(joined.count() == unbucketed.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("Tables.pin materializes at serialized MEMORY_AND_DISK storage") {
    // The r7 GC-pressure contract (SURVEY §4.4.9): every pinned
    // intermediate must be ONE serialized byte array per partition, never
    // deserialized row objects — a refactor that reverts pin() to the
    // localCheckpoint() default would resurrect the r6 board inflation.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Tables.pin(Tables.load(spark, sfDir, "region"))
    assert(df.count() > 0)
    val added = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }.values.toSeq
    // exists (not forall): a concurrently-running suite may persist its
    // own (also serialized) intermediates in the same instant.
    assert(added.exists { r =>
      val l = r.getStorageLevel
      l.useMemory && l.useDisk && !l.deserialized
    }, s"pin must store MEMORY_AND_DISK_SER, added levels: ${added.map(_.getStorageLevel)}")
    // Deliberately NOT unpersisted: `added` could include a concurrent
    // suite's localCheckpoint RDD (same race the exists() above tolerates),
    // and unpersisting a checkpoint block destroys its ONLY copy — the
    // owner's next action would fail. One region-sized block leaking for
    // the rest of the test JVM is the cheaper side of that trade.
  }

  test("z-order clustered write: file min/max skipping works on BOTH dimensions") {
    // One sort order that localizes TWO dimensions: files written in
    // morton(custkey, day) range order get a narrow range in each
    // dimension simultaneously, so a min/max-pruning reader (parquet
    // row-group stats, Delta/Iceberg file stats) can skip files for a
    // filter on EITHER column. A lexicographic sort serves only its
    // leading column — the date-sorted baseline proves the difference on
    // the same data.
    // PITFALL (hit live writing this test): interleaving RAW values
    // degenerates when the dims have different bit-scales — custkey here
    // uses 8 bits, the day number 12, so day's high bits monopolize the
    // top of the code and the "z-order" collapses into a plain date sort
    // (measured: custkey probe read 16/16 files). Real z-order NORMALIZES
    // every dimension to the same width first; 8-bit min/max scaling is
    // the simplest form (production systems use per-dimension quantile
    // ranks for skew immunity).
    import graft.functions.GraftFunctions.morton_code
    val orders = Tables.load(spark, sfDir, "orders")
    val dayRaw = datediff(col("o_orderdate"), lit("1992-01-01").cast("timestamp")).cast("long")
    val (ckLo, ckHi, dLo, dHi) = {
      val r = orders.agg(min(col("o_custkey")), max(col("o_custkey")),
        min(dayRaw), max(dayRaw)).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    def norm8(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      floor((c - lit(lo)) * 256L / lit(hi - lo + 1)).cast("long")
    val nFiles = 16
    val zdir = tempDir("zorder_layout").toString
    orders.withColumn("z",
        morton_code(norm8(col("o_custkey"), ckLo, ckHi), norm8(dayRaw, dLo, dHi)))
      .repartitionByRange(nFiles, col("z")).drop("z")
      .write.mode("overwrite").parquet(zdir)
    val ddir = tempDir("datesort_layout").toString
    orders.repartitionByRange(nFiles, col("o_orderdate"))
      .write.mode("overwrite").parquet(ddir)

    // Per-file (min, max) stats of both dimensions — what a stats-pruning
    // reader consults before opening the file.
    def stats(dir: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min(col("o_custkey")).as("ck_lo"), max(col("o_custkey")).as("ck_hi"),
          min(datediff(col("o_orderdate"), lit("1992-01-01").cast("timestamp")).cast("long")).as("d_lo"),
          max(datediff(col("o_orderdate"), lit("1992-01-01").cast("timestamp")).cast("long")).as("d_hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val (zStats, dStats) = (stats(zdir), stats(ddir))
    // Probe: a quarter-of-the-span predicate on each dimension, anchored
    // at the data minimum; a file is read iff its [min,max] overlaps.
    val ckQ = ckLo + (ckHi - ckLo) / 4
    val dQ = dLo + (dHi - dLo) / 4
    def readCk(s: Array[(Long, Long, Long, Long)]) =
      s.count { case (lo, _, _, _) => lo <= ckQ }
    def readDay(s: Array[(Long, Long, Long, Long)]) =
      s.count { case (_, _, lo, _) => lo <= dQ }
    // Z-order: both probes skip at least a third of the files.
    assert(readCk(zStats) <= zStats.length * 2 / 3,
      s"custkey probe reads ${readCk(zStats)}/${zStats.length} z-ordered files")
    assert(readDay(zStats) <= zStats.length * 2 / 3,
      s"date probe reads ${readDay(zStats)}/${zStats.length} z-ordered files")
    // Date sort: its leading column skips, but the custkey probe must
    // read essentially everything — the single-dim layout's blind spot.
    assert(readDay(dStats) <= dStats.length / 2)
    assert(readCk(dStats) >= dStats.length - 1,
      s"date-sorted layout unexpectedly localized custkey: ${readCk(dStats)}/${dStats.length}")
  }

  test("Warehouse.once registers each build for deletion on its own file system") {
    // Both are registered prebuilds, so CartesianGuardSpec's census of
    // Warehouse builds stays exact whichever suite builds them first.
    // bucket_tables' own write is empty: its caller fills the dir after
    // `once` returns, exactly as this call leaves it.
    val builds = Seq(graft.queries.Ingestion.orcOrders(spark, sfDir),
      graft.core.Warehouse.once(sfDir, "bucket_tables")(_ => ()))
    for (out <- builds.map(new org.apache.hadoop.fs.Path(_))) {
      val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.cancelDeleteOnExit(out), s"$out is not registered for deletion at exit")
      fs.deleteOnExit(out)
    }
  }
}
