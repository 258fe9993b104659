package graft

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.queries.Ingestion
import graft.sources.Ingest

/** Ingestion-policy tests (SURVEY §5.2.5): CSV bad-record modes, empty
  * files, schema drift, partitioned file sinks, the JDBC writer wiring,
  * and the end-to-end [REF]-shaped ingest job. */
class IngestSpec extends AnyFunSuite {
  import TestSpark._

  private val header = "id,name,qty,price,ship_date"
  private val goodRows = Seq(
    "1,Widget,5,19.99,2024-01-15",
    "3,Gears,7,5.75,2024-03-01")
  private val badRow = "oops,Bad,notanint,alsobad,nope"

  private def csvDir(rows: Seq[String]): String = {
    val d = tempDir("csv_case")
    Files.writeString(d.resolve("feed.csv"), (header +: rows).mkString("", "\n", "\n"))
    d.toString
  }

  test("PERMISSIVE keeps malformed rows quarantined in the corrupt column") {
    val df = Ingest.readCsv(spark, csvDir(goodRows :+ badRow), Ingestion.csvSchema,
      Ingest.Permissive("_bad")).cache()
    assert(df.count() == 3)
    val bad = df.filter(col("_bad").isNotNull)
    assert(bad.count() == 1)
    assert(bad.head().getAs[String]("_bad").startsWith("oops,"))
    val clean = df.filter(col("_bad").isNull)
    assert(clean.select(sum(col("qty"))).head().getLong(0) == 12L)
    df.unpersist()
  }

  test("DROPMALFORMED silently drops malformed rows") {
    val df = Ingest.readCsv(spark, csvDir(goodRows :+ badRow), Ingestion.csvSchema,
      Ingest.DropMalformed)
    // collect() (not count()) — under count Spark prunes every column, the
    // parser never attempts the failing conversions, and no row is dropped.
    // Malformedness is judged against the columns the query actually reads.
    assert(df.collect().length == 2)
  }

  test("FAILFAST aborts on the first malformed row") {
    val df = Ingest.readCsv(spark, csvDir(goodRows :+ badRow), Ingestion.csvSchema,
      Ingest.FailFast)
    intercept[Exception] { df.collect() }
  }

  test("header-only and zero-byte files yield zero rows, not errors") {
    val d = tempDir("csv_empty")
    Files.writeString(d.resolve("header_only.csv"), header + "\n")
    Files.writeString(d.resolve("zero.csv"), "")
    val df = Ingest.readCsv(spark, d.toString, Ingestion.csvSchema, Ingest.Permissive())
    assert(df.count() == 0)
  }

  test("schema drift: a row with extra columns is quarantined under PERMISSIVE") {
    val drifted = "7,Widget,5,19.99,2024-01-15,SURPRISE_EXTRA"
    val df = Ingest.readCsv(spark, csvDir(goodRows :+ drifted), Ingestion.csvSchema,
      Ingest.Permissive()).cache() // corrupt-col-only queries require a cached parse
    try {
      assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
      assert(df.filter(col("_corrupt_record").isNull).count() == 2)
    } finally df.unpersist()
  }

  test("partitioned parquet sink writes partition directories and reads back equal") {
    val doc = Tables.load(spark, sfDir, "documents")
    val out = tempDir("wh_parquet").toString
    Ingest.writePartitionedParquet(doc, out, Seq("lang"))
    val partDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("lang="))
    assert(partDirs.nonEmpty, "expected lang=<value> partition directories")
    val back = spark.read.parquet(out)
    assert(back.count() == doc.count())
    assertSameRows(
      back.select("doc_id", "lang", "n_chars"),
      doc.select("doc_id", "lang", "n_chars"), "partitioned parquet roundtrip")
    // Partition pruning: a lang filter must prune the file listing.
    val pruned = back.filter(col("lang") === "en")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"),
      s"lang filter should appear as a partition filter, got: ${scan.take(300)}")
  }

  test("CSV sink roundtrips through the schema'd reader") {
    val region = Tables.load(spark, sfDir, "region")
    val out = tempDir("wh_csv").toString
    Ingest.writeCsv(region, out)
    val back = Ingest.readCsv(spark, out, region.schema, Ingest.FailFast)
    assertSameRows(back, region, "csv sink roundtrip")
  }

  test("JDBC writer/reader carry the full target configuration") {
    val t = Ingest.JdbcTarget("jdbc:postgresql://wh:5439/dw", "public.lineitem",
      user = "loader", password = "secret", driver = "org.postgresql.Driver",
      batchSize = 5000)
    val opts = Ingest.jdbcOptions(t)
    assert(opts("url") == t.url && opts("dbtable") == t.table &&
      opts("driver") == t.driver && opts("batchsize") == "5000")
    // The writer/readers must construct without a live endpoint.
    val w = new Ingest.JdbcWarehouseWriter(t)
    w.configured(Tables.load(spark, sfDir, "region"), SaveMode.Append)
    Ingest.jdbcRead(spark, t)
  }

  test("parquet schema evolution: mergeSchema surfaces NULLs for pre-evolution rows") {
    // A long-lived warehouse dir accretes files written under successive
    // schemas (a later pipeline version adds a column). mergeSchema must
    // union the schemas and read old files with NULLs in the new column —
    // the evolution contract a 100 TB warehouse depends on, since
    // rewriting history to backfill a column is off the table.
    val d = tempDir("schema_evo").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode(SaveMode.Append).parquet(d)
    Seq((3L, "c", 3.5), (4L, "d", 4.5)).toDF("id", "v", "score")
      .write.mode(SaveMode.Append).parquet(d)
    val merged = spark.read.option("mergeSchema", true).parquet(d)
    assert(merged.columns.sorted.toSeq == Seq("id", "score", "v"))
    val rows = merged.select("id", "v", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getDouble(2)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a", null), (2L, "b", null),
      (3L, "c", 3.5), (4L, "d", 4.5)),
      s"old rows must surface NULL in the evolved column: ${rows.mkString(",")}")
  }

  test("JDBC round-trip through embedded Derby preserves every row exactly") {
    // The [REF] dual-sink flow end-to-end: the production JdbcWarehouseWriter
    // writes a deterministic orders keyslice into embedded Derby (in Spark's
    // own classpath) and jdbcRead brings it back; row-level multiset equality
    // proves longs, doubles, strings and timestamps survive unchanged.
    val target = Ingestion.jdbcOrders(spark, sfDir)
    val src = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
    val back = Ingest.jdbcRead(spark, target).load()
      .select(src.columns.map(col).toIndexedSeq: _*)
      // parquet orders carry TIMESTAMP_NTZ; JDBC maps Derby TIMESTAMP to
      // TimestampType. Under the UTC session the cast is value-identity,
      // so aligning the type here compares the actual instants.
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz"))
    assert(back.count() == src.count() && src.count() > 0)
    assertSameRows(src, back, "derby round-trip")
  }

  test("JDBC staged upsert merges updates+inserts and replaying the delta changes nothing") {
    // The Redshift staging-table pattern against live Derby: after the
    // gated flow (base load + one staged merge), the table must equal the
    // from-first-principles merge — untouched base rows + the delta — and
    // a SECOND upsert of the same delta must leave it bit-identical
    // (delete-then-insert idempotency, the re-replay property).
    val target = Ingestion.upsertOrders(spark, sfDir)
    val base = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
    val delta = Ingestion.upsertDelta(spark, sfDir)
    val expected = base.join(delta.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .unionByName(delta)
    def back() = Ingest.jdbcRead(spark, target).load()
      .select(base.columns.map(col).toIndexedSeq: _*)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz"))
    assert(back().count() == expected.count() && expected.count() > base.count())
    assertSameRows(expected, back(), "staged upsert")
    new Ingest.JdbcUpsertWriter(target, Seq("o_orderkey")).upsert(delta.repartition(4))
    assertSameRows(expected, back(), "staged upsert replay")
  }

  test("z-order layout: a 2-dim box touches fewer files than the 1-dim sort, content identical") {
    // The data-skipping claim behind ZORD-1, measured at FILE granularity
    // (the unit min/max stats prune at): for a (user range x time range)
    // box, the single-dim (user_id, ts)-sorted layout gives each file the
    // FULL time span of its user range - every file in the user range
    // intersects - while the morton layout's files cover narrow rectangles
    // in both dims. Both layouts must be row-identical to the source.
    import graft.queries.Events
    val e = Tables.load(spark, sfDir, "events")
    val zdir = Events.zorderEvents(spark, sfDir)
    val ldir = tempDir("events_linear").toString
    e.repartitionByRange(16, col("user_id"), col("ts"))
      .sortWithinPartitions("user_id", "ts")
      .write.mode("overwrite").parquet(ldir)
    // sf0.001 box: users 4-7 of 0-14 (~1/4), two days of the 30-day span.
    val (u1, u2) = (4L, 7L)
    val (t1, t2) = (java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-12 00:00:00"))
    def touched(dir: String): (Long, Long) = {
      val stats = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("user_id")).as("umin"), max(col("user_id")).as("umax"),
          min(col("ts")).as("tmin"), max(col("ts")).as("tmax"))
        .collect()
      val hit = stats.count { r =>
        r.getAs[Long]("umax") >= u1 && r.getAs[Long]("umin") <= u2 &&
          !r.getAs[java.sql.Timestamp]("tmax").before(t1) &&
          r.getAs[java.sql.Timestamp]("tmin").before(t2)
      }
      (hit.toLong, stats.length.toLong)
    }
    val (zHit, zAll) = touched(zdir)
    val (lHit, lAll) = touched(ldir)
    assert(zAll == 16 && lAll == 16, s"expected 16 files per layout ($zAll, $lAll)")
    assert(zHit < lHit,
      s"z-order must touch fewer files than the 1-dim sort: z=$zHit linear=$lHit")
    assertSameRows(spark.read.parquet(zdir), e, "z-order rewrite content")
    assertSameRows(spark.read.parquet(ldir), e, "linear rewrite content")
  }

  test("JDBC staged upsert: a failed merge rolls back the applied DELETE, target unchanged") {
    // The transactional half of the upsert contract, exercised on a
    // HALF-APPLIED merge: the delta's keys are valid so the DELETE
    // executes and removes matching target rows, then the INSERT fails
    // (a non-key column renamed → no such column in the target). Only a
    // real rollback can restore the deleted rows — with autoCommit or a
    // dropped rollback this test fails, unlike a bad-key variant whose
    // DELETE aborts before mutating anything.
    val target = Ingestion.upsertOrders(spark, sfDir)
    def snapshot() = Ingest.jdbcRead(spark, target).load().collect()
      .map(_.toString).sorted.toSeq
    val before = snapshot()
    val ex = intercept[Exception] {
      new Ingest.JdbcUpsertWriter(target, Seq("o_orderkey"))
        .upsert(Ingestion.upsertDelta(spark, sfDir)
          .withColumnRenamed("o_orderpriority", "o_mislabeled")
          .repartition(2))
    }
    assert(ex.getMessage != null)
    assert(snapshot() == before,
      "the rolled-back transaction must restore the rows its DELETE removed")
  }

  test("streaming CSV arrivals load the warehouse via foreachBatch, rerun adds nothing") {
    import graft.streaming.StreamOps
    val d = tempDir("wh_stream_src")
    Files.writeString(d.resolve("f1.csv"), (header +: goodRows).mkString("", "\n", "\n"))
    val wh = tempDir("wh_stream_out").toString
    val ckpt = tempDir("wh_stream_ckpt").toString
    val writer = new Ingest.ParquetWarehouseWriter(wh)
    def run(): Unit = StreamOps.runToWarehouse(
      StreamOps.csvFileSource(spark, d.toString, Ingestion.csvSchema), writer, ckpt)
    run()
    assert(spark.read.parquet(wh).count() == 2)
    run() // same checkpoint, no new files: at-least-once but no reprocessing
    assert(spark.read.parquet(wh).count() == 2, "rerun must not reload batches")
    assertSameRows(spark.read.parquet(wh),
      Ingest.readCsv(spark, d.toString, Ingestion.csvSchema, Ingest.FailFast),
      "warehouse content vs batch read")
  }

  test("streaming JDBC warehouse load is idempotent under full re-replay") {
    import graft.streaming.StreamOps
    val d = tempDir("wh_jdbc_src")
    Files.writeString(d.resolve("f1.csv"), (header +: goodRows).mkString("", "\n", "\n"))
    val dbDir = tempDir("wh_jdbc_db").toString
    sys.props.getOrElseUpdate("derby.stream.error.file", s"$dbDir/derby.log")
    val target = Ingest.JdbcTarget(
      url = s"jdbc:derby:$dbDir/whdb;create=true",
      table = "events_wh",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    def run(ckpt: String): Unit = StreamOps.runToJdbcWarehouse(
      StreamOps.csvFileSource(spark, d.toString, Ingestion.csvSchema), target, ckpt)
    val ckpt1 = tempDir("wh_jdbc_ckpt1").toString
    run(ckpt1)
    def loaded() = Ingest.jdbcRead(spark, target).load()
    assert(loaded().count() == 2)
    // Same checkpoint: batches already committed, nothing re-runs.
    run(ckpt1)
    assert(loaded().count() == 2, "checkpointed rerun must add nothing")
    // FRESH checkpoint = every batch redelivered: the batch-keyed
    // delete-then-insert must converge to one copy, not append a second.
    run(tempDir("wh_jdbc_ckpt2").toString)
    assert(loaded().count() == 2, "full re-replay must be idempotent")
    assertSameRows(
      loaded().drop("batch_id"),
      Ingest.readCsv(spark, d.toString, Ingestion.csvSchema, Ingest.FailFast),
      "warehouse content vs source")
  }

  test("streaming clean/quarantine split: bad rows quarantined, clean rows load, rerun adds nothing") {
    import graft.streaming.StreamOps
    val d = tempDir("qr_src")
    Files.writeString(d.resolve("f1.csv"), (header +: goodRows).mkString("", "\n", "\n"))
    Files.writeString(d.resolve("f2.csv"),
      (header +: Seq(badRow, "9,Rivet,2,0.10,2024-04-01")).mkString("", "\n", "\n"))
    val corruptCol = "_corrupt_record"
    val schema = org.apache.spark.sql.types.StructType(
      Ingestion.csvSchema.fields :+
        org.apache.spark.sql.types.StructField(corruptCol,
          org.apache.spark.sql.types.StringType))
    def stream = spark.readStream.schema(schema)
      .option("header", true).option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .option("maxFilesPerTrigger", 1)
      .csv(d.toString)
    val clean = tempDir("qr_clean").toString
    val quar = tempDir("qr_quar").toString
    def run(ckpt: String): Unit = StreamOps.runQuarantineSplit(stream, corruptCol, clean, quar, ckpt)
    val ckpt1 = tempDir("qr_ckpt1").toString
    run(ckpt1)
    assert(spark.read.parquet(clean).count() == 3, "three parseable rows load")
    val quarantined = spark.read.parquet(quar).select(corruptCol)
      .collect().map(_.getString(0))
    assert(quarantined.toSeq == Seq(badRow), "exactly the malformed raw line quarantined")
    run(ckpt1) // checkpointed rerun: nothing new arrives, nothing re-loads
    assert(spark.read.parquet(clean).count() == 3, "rerun must not reload")
    assert(spark.read.parquet(quar).count() == 1, "rerun must not re-quarantine")
    // FRESH checkpoint = every batch redelivered: the batch-keyed dynamic
    // partition overwrite must converge to one copy of each side.
    run(tempDir("qr_ckpt2").toString)
    assert(spark.read.parquet(clean).count() == 3, "full re-replay must be idempotent")
    assert(spark.read.parquet(quar).count() == 1, "full re-replay must not duplicate quarantine")
  }

  test("compact: a hive-partitioned source fails fast instead of flattening the layout") {
    // Review finding r10: a top-level-only listing on a partitioned dir
    // measured totalBytes=0, sized the rewrite to ONE file and silently
    // flattened the partition layout. The guard rejects nested parquet.
    val src = tempDir("compact_part").toString
    Tables.load(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(src)
    val e = intercept[IllegalArgumentException] {
      Ingest.compact(spark, src, tempDir("compact_part_dst").toString)
    }
    assert(e.getMessage.contains("partition"),
      s"guard must name the partitioned layout, got: ${e.getMessage}")
  }

  test("compact: hidden/underscore debris neither fails the flat-layout guard nor skews sizing") {
    // ADVICE r10: the recursive leaf listing read ANY nested .parquet as
    // "partitioned layout" — including _temporary droppings from a crashed
    // write — so a legitimately flat directory with debris failed
    // compaction with a misleading error. Hidden components must be
    // invisible to both the guard and the byte sizing.
    val src = tempDir("compact_debris").toString
    val orders = Tables.load(spark, sfDir, "orders")
    orders.repartition(8).write.mode(SaveMode.Overwrite).parquet(src)
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(src))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    // Crashed-write debris: a huge fake parquet under _temporary and a
    // .staging dir. If either counted, sizing would inflate well past the
    // real total; if either set the nested flag, compact would throw.
    val debris = java.nio.file.Paths.get(src, "_temporary", "0", "task_0")
    Files.createDirectories(debris)
    Files.write(debris.resolve("part-junk.parquet"),
      Array.fill[Byte](8 * 1024 * 1024)(0x5a))
    val hidden = java.nio.file.Paths.get(src, ".staging-job1")
    Files.createDirectories(hidden)
    Files.write(hidden.resolve("part-junk2.parquet"), Array.fill[Byte](1024)(1))
    val dst = tempDir("compact_debris_dst").toString
    // Target half the REAL bytes → exactly 2 files iff debris was excluded
    // (the 8 MB fake alone would force ≥3 if it counted).
    val (before, after) = Ingest.compact(spark, src, dst, targetFileBytes = bytes / 2 + 1)
    assert(before == 8, s"debris must not count as input files, got $before")
    assert(after == 2, s"sizing must ignore debris bytes, got $after files")
    assertSameRows(spark.read.parquet(dst), orders, "debris-tolerant compaction content")
  }

  test("JDBC staged upsert: crashed-run staging debris is swept on the next writer's merge") {
    // ADVICE r10: per-writer staging names orphan a crashed run's table
    // forever. The sweep drops same-host staging tables whose pid is dead,
    // leaves live-pid tables alone, and a successful merge leaves zero
    // staging tables of its own behind.
    val target = Ingestion.upsertOrders(spark, sfDir)
    Class.forName(target.driver)
    val conn = java.sql.DriverManager.getConnection(target.url)
    def tables(): Set[String] = {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val b = Set.newBuilder[String]
      while (rs.next()) b += rs.getString("TABLE_NAME").toUpperCase
      rs.close(); b.result()
    }
    val host = java.net.InetAddress.getLocalHost.getHostName
      .replaceAll("[^A-Za-z0-9]", "")
    // Same predicate the sweep uses: provably-dead only.
    val deadPid = Iterator.from(3000000)
      .find(p => scala.util.Try(ProcessHandle.of(p.toLong).isEmpty).getOrElse(false))
      .get
    val livePid = ProcessHandle.current().pid()
    val stale = s"${target.table}_stage_${host}_${deadPid}_zz"
    val live = s"${target.table}_stage_${host}_${livePid}_zz"
    val st = conn.createStatement()
    st.executeUpdate(s"CREATE TABLE $stale (i INT)")
    st.executeUpdate(s"CREATE TABLE $live (i INT)")
    st.close()
    // Other tests in this process may have left their own live-pid
    // staging (the rollback test's post-mortem staging is BY DESIGN not
    // swept while its pid lives) — assert relative to the pre-state.
    val before = tables()
    assert(before.contains(stale.toUpperCase) && before.contains(live.toUpperCase))
    new Ingest.JdbcUpsertWriter(target, Seq("o_orderkey"))
      .upsert(Ingestion.upsertDelta(spark, sfDir).repartition(2))
    val after = tables()
    assert(!after.contains(stale.toUpperCase),
      "dead-pid staging debris must be dropped by the sweep")
    assert(after.contains(live.toUpperCase),
      "a live writer's staging table must never be touched")
    assert(after == before - stale.toUpperCase,
      s"a successful merge must drop exactly the dead staging and its own: " +
        s"before=$before after=$after")
    val st2 = conn.createStatement()
    st2.executeUpdate(s"DROP TABLE $live")
    st2.close(); conn.close()
  }

  test("compact: small files collapse toward the target size, content-identical") {
    val src = tempDir("compact_src").toString
    val orders = Tables.load(spark, sfDir, "orders")
    // Simulate a micro-batch sink's droppings: 40 tiny files.
    orders.repartition(40).write.mode(SaveMode.Overwrite).parquet(src)
    val dst = tempDir("compact_dst").toString
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(src))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    // Target a quarter of the total: expect exactly ceil(bytes/target)=4.
    val (before, after) = Ingest.compact(spark, src, dst, targetFileBytes = bytes / 4 + 1)
    assert(before == 40, s"setup wrote $before files")
    assert(after == 4, s"expected 4 compacted files, got $after")
    assertSameRows(spark.read.parquet(dst), orders, "compaction must preserve rows")
  }

  test("compact: a one-file source under target is copied with no Spark job; above target it is rewritten") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val orders = Tables.load(spark, sfDir, "orders")
    val src = tempDir("compact_one_src").toString
    orders.coalesce(1).write.mode(SaveMode.Overwrite).parquet(src)
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(dir: String) = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSet
    val srcBefore = listing(src)
    val bytes = srcBefore.filter(_._1.endsWith(".parquet")).map(_._2).sum
    // Stale output from an earlier run: the copy must overwrite it whole.
    val dst = tempDir("compact_one_dst").toString
    orders.repartition(3).write.mode(SaveMode.Overwrite).parquet(dst)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    graft.streaming.LifecycleGate.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(probe)
    val counts = try {
      val r = Ingest.compact(spark, src, dst)
      graft.streaming.LifecycleGate.flushListenerBus(spark)
      r
    } finally spark.sparkContext.removeSparkListener(probe)
    assert(counts == ((1, 1)), s"got $counts")
    assert(jobs.get == 0, s"the copy path must start no Spark job, saw ${jobs.get}")
    val visible = listing(dst).map(_._1).filterNot(_.startsWith("."))
    assert(visible.count(_.endsWith(".parquet")) == 1 && visible.size == 2 &&
      visible("_SUCCESS"), s"expected one parquet file plus _SUCCESS, got $visible")
    assertSameRows(spark.read.parquet(dst), orders, "the copied drop holds the source rows")
    assert(listing(src) == srcBefore, "the source must be left untouched")
    // One file ABOVE the target is not compact: it is still rewritten.
    val big = tempDir("compact_one_big").toString
    val (before, after) = Ingest.compact(spark, src, big, targetFileBytes = bytes / 2 + 1)
    assert((before, after) == ((1, 2)), s"got ($before, $after)")
    assertSameRows(spark.read.parquet(big), orders, "the rewritten drop holds the source rows")
  }

  test("compactWithErasure: GDPR anti-join rides the compaction rewrite — one pass, exact audit") {
    val src = tempDir("cwe_src").toString
    val orders = Tables.load(spark, sfDir, "orders")
    orders.repartition(40).write.mode(SaveMode.Overwrite).parquet(src)
    val dst = tempDir("cwe_dst").toString
    // Erasure list: every customer with custkey % 13 == 0 (plus a
    // never-present key — erasing an absent entity must be a no-op).
    import spark.implicits._
    val deletion = orders.filter(col("o_custkey") % 13 === 0)
      .select(col("o_custkey")).distinct()
      .unionByName(Seq(-99L).toDF("o_custkey"))
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(src))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val (before, after, erased) = Ingest.compactWithErasure(
      spark, src, dst, deletion, "o_custkey", targetFileBytes = bytes / 4 + 1)
    val expected = orders.filter(col("o_custkey") % 13 =!= 0)
    assert(before == 40)
    // File count sized by SURVIVING bytes (not source bytes): fewer than
    // the plain compaction's 4 only if the erased slice was big enough;
    // at minimum the output must stay near-target, never 40 droppings.
    assert(after <= 4 && after >= 1, s"got $after files")
    assert(erased == orders.count() - expected.count(),
      "audit row must carry the exact erased-row count")
    assert(erased > 0, "the keyslice must actually erase something")
    assertSameRows(spark.read.parquet(dst), expected,
      "exactly the non-erased rows survive the fold")
  }

  test("binaryFile: opaque media files ingest as (path, length, content) rows") {
    val d = tempDir("media_src")
    val img = Array.tabulate[Byte](256)(i => i.toByte)
    val aud = Array.tabulate[Byte](100)(i => (i * 3).toByte)
    Files.write(d.resolve("a.img"), img)
    Files.write(d.resolve("b.aud"), aud)
    Files.writeString(d.resolve("notes.txt"), "not media")
    val rows = Ingest.readBinaryFiles(spark, d.toString, glob = "*.{img,aud}")
      .select(col("path"), col("length"), col("content")).collect()
    assert(rows.length == 2, "glob filter must exclude the .txt")
    val byName = rows.map(r => r.getString(0).split('/').last ->
      (r.getLong(1), r.getAs[Array[Byte]](2))).toMap
    assert(byName("a.img")._1 == 256 && byName("a.img")._2.sameElements(img))
    assert(byName("b.aud")._1 == 100 && byName("b.aud")._2.sameElements(aud))
  }

  test("reference flow end-to-end: notify → load → status → gate → publish; a poisoned run never publishes") {
    // The whole [REF] diagram as one executable path: partner CSVs land,
    // an event notification (not a LIST) announces them, the loader
    // streams exactly the notified files, completion status is recorded,
    // and the lifecycle gate releases the snapshot publish only on a
    // clean run — load the warehouse copy FIRST, signal availability
    // ONLY after it is complete, then tear down.
    import graft.streaming.{LifecycleGate, StatusListener, StreamOps}
    import graft.core.Snapshot
    val queue = tempDir("flow_queue")
    val out = tempDir("flow_out").toString
    val ckpt = tempDir("flow_ckpt").toString
    val snapRoot = tempDir("flow_snap").toString
    def notify(name: String, lines: String*): Unit =
      Files.writeString(queue.resolve(name), lines.mkString("\n") + "\n")

    // Wave 1: two partner files arrive, each announced by a notification.
    val f1 = csvDir(goodRows)
    val f2 = csvDir(Seq("9,Sprocket,2,3.50,2024-04-02"))
    notify("n1.txt", s"$f1/feed.csv")
    notify("n2.txt", s"$f2/feed.csv")
    val v1 = LifecycleGate.gatedPublish(spark,
      StreamOps.readStore(spark, out).drop("_src"), snapRoot) {
      StreamOps.runNotifiedLoad(spark, queue.toString, Ingestion.csvSchema,
        out, ckpt, format = "csv")
    }
    assert(v1.contains(1L), s"clean run must publish v1, got $v1")
    assert(Snapshot.read(spark, snapRoot).count() == 3,
      "published snapshot carries all notified rows")

    // Wave 2 is POISONED: the notification points at a path that does not
    // exist — the load throws at ANALYSIS time (no failed status record
    // ever lands, which is exactly why the gate owns the run), the gate
    // holds, readers keep seeing v1.
    notify("n3.txt", s"$f1/never_arrived.csv")
    val v2 = LifecycleGate.gatedPublish(spark,
      StreamOps.readStore(spark, out).drop("_src"), snapRoot) {
      StreamOps.runNotifiedLoad(spark, queue.toString, Ingestion.csvSchema,
        out, ckpt, format = "csv")
    }
    assert(v2.isEmpty, "gate must hold after a failed load")
    assert(Snapshot.currentVersion(snapRoot).contains(1L),
      "failed wave must leave the published version untouched")
  }

  test("committer swap is a config change: file sinks commit through a custom FileCommitProtocol") {
    // SURVEY §2.1's cloud-committer claim, executed: swap
    // spark.sql.sources.commitProtocolClass to RecordingCommitProtocol and
    // show the parquet and csv sinks drive its full job/task lifecycle
    // with UNCHANGED results — the same substitution a deployment makes
    // for an S3A/cloud-native committer.
    val table = spark.range(100).selectExpr("id", "id % 7 AS k")
    val prior = spark.conf.getOption("spark.sql.sources.commitProtocolClass")
    RecordingCommitProtocol.reset()
    try {
      spark.conf.set("spark.sql.sources.commitProtocolClass",
        classOf[RecordingCommitProtocol].getName)
      val pq = tempDir("commit_pq").toString + "/t"
      val cv = tempDir("commit_csv").toString + "/t"
      val part = tempDir("commit_part").toString + "/t"
      table.write.mode("overwrite").parquet(pq)
      table.write.mode("overwrite").option("header", true).csv(cv)
      table.write.mode("overwrite").partitionBy("k").parquet(part)
      assert(RecordingCommitProtocol.jobsSetup.get() == 3,
        "each write job must set up through the swapped protocol")
      assert(RecordingCommitProtocol.jobsCommitted.get() == 3,
        "each write job must commit through the swapped protocol")
      assert(RecordingCommitProtocol.tempFiles.get() > 0 &&
        RecordingCommitProtocol.tasksCommitted.get() > 0,
        "task-side temp-file allocation and task commit must route through it")
      // Results are unchanged by the committer: full round-trip equality.
      assert(spark.read.parquet(pq).count() == 100)
      assert(spark.read.option("header", true).csv(cv).count() == 100)
      assertSameRows(spark.read.parquet(part).selectExpr("id", "CAST(k AS LONG) AS k"),
        table, "partitioned write through the swapped committer")
    } finally prior.fold(
      spark.conf.unset("spark.sql.sources.commitProtocolClass"))(
      spark.conf.set("spark.sql.sources.commitProtocolClass", _))
  }

  test("LifecycleGate: status classification is JSON-parsed, not substring-matched") {
    import graft.streaming.LifecycleGate
    // ADVICE r9: a clean record whose NESTED payload quotes a failed status
    // must not flip the gate — substring matching reads the inner
    // "status":"failed" as a run failure; the JSON parse reads the
    // top-level field only.
    val nested = """{"action":"audit","status":"success","upstream":{"status":"failed"}}"""
    val d1 = LifecycleGate.evaluate(Seq(nested))
    assert(d1.release && d1.failures.isEmpty,
      "nested quoted status must not read as a run failure")
    // Whitespace in the serialization must still classify.
    val spaced = """{ "status" : "completed" , "action" : "load" }"""
    assert(LifecycleGate.evaluate(Seq(spaced)).release,
      "whitespace around the status field must not hide a success")
    // A real failure still holds regardless of field order/whitespace.
    val failed = """{ "error": "boom", "status" : "failed" }"""
    val d2 = LifecycleGate.evaluate(Seq(spaced, failed))
    assert(!d2.release && d2.failures == Seq(failed))
    // Unparseable garbage classifies as a FAILURE (a record the gate
    // cannot read is a record it cannot trust): it holds even when a
    // clean success record sits next to it.
    val d3 = LifecycleGate.evaluate(Seq(nested, "not json at all"))
    assert(!d3.release && d3.actions == 2 &&
      d3.failures == Seq("not json at all"),
      "a malformed record must hold the gate as a failure")
    // Neutral streaming lifecycle records (started/progress) are neither.
    val d4 = LifecycleGate.evaluate(Seq(
      """{"query":"q","status":"started"}""",
      """{"query":"q","status":"progress","batch":0}""",
      """{"query":"q","status":"completed"}"""))
    assert(d4.release && d4.failures.isEmpty,
      "started/progress records must not hold a completed run")
    // The timed-out distinction: an empty list that EXPIRED is marked
    // retriable-timeout, distinct from a recorded-failure hold.
    val dt = LifecycleGate.evaluate(Nil, timedOut = true)
    assert(!dt.release && dt.timedOut)
    assert(!LifecycleGate.evaluate(Seq(nested)).timedOut)
  }

  test("LifecycleGate: a failed-status run never publishes; a clean run does") {
    import graft.streaming.{LifecycleGate, StatusListener}
    import graft.core.Snapshot
    val root = tempDir("gate_snap").toString
    val table = spark.range(10).toDF("id")

    // Failed run: the watched action throws → a "failed" record lands →
    // the gate HOLDS and the snapshot root stays unpublished.
    val badListener = StatusListener.attach(spark)
    try {
      intercept[Exception] {
        spark.range(1).select(raise_error(lit("ingest blew up"))).collect()
      }
      val seen = LifecycleGate.awaitStatuses(badListener)
      assert(seen.exists(_.contains("\"failed\"")),
        s"failure record must be observed, got $seen")
      assert(LifecycleGate.publishIfClean(badListener, table, root).isEmpty,
        "gate must hold the publish after a failed action")
      assert(Snapshot.currentVersion(root).isEmpty,
        "a held publish must leave no published version")
    } finally spark.listenerManager.unregister(badListener)

    // Also: a run that never reported anything must HOLD (absence of
    // failure is not success).
    val silent = new StatusListener
    assert(!LifecycleGate.evaluate(silent.statuses).release,
      "an empty status log must not release")

    // Clean run: the watched action succeeds → the gate releases, the
    // publish happens, and the decision is stamped into the version meta.
    val goodListener = StatusListener.attach(spark)
    try {
      assert(table.count() == 10)
      val v = LifecycleGate.publishIfClean(goodListener, table, root)
      assert(v.contains(1L), s"clean run must publish v1, got $v")
      assert(Snapshot.read(spark, root).count() == 10)
      assert(Snapshot.meta(root, 1L).contains("gate_actions"),
        "released publish must carry the gate decision in _META")
    } finally spark.listenerManager.unregister(goodListener)
  }

  test("runIngestJobObserved: CollectMetrics audit, quarantine, partitions, statuses") {
    val src = csvDir(goodRows :+ badRow)
    val wh = tempDir("ingest_obs_wh").toString
    val q = tempDir("ingest_obs_q").toString
    val report = Ingest.runIngestJobObserved(
      spark, src, Ingestion.csvSchema, wh, q, Seq("ship_date"))
    // The counters are plan-level metrics ON the warehouse write itself.
    assert(report.rowsRead == 3 && report.rowsQuarantined == 1 &&
      report.rowsWritten == 2, s"got $report")
    assert(spark.read.parquet(wh).count() == 2)
    assert(new java.io.File(wh).listFiles().exists(_.getName.startsWith("ship_date=")))
    assert(spark.read.parquet(q).count() == 1, "corrupt raw line quarantined")
    assert(report.statuses.nonEmpty, "completion listener must record statuses")
    assert(report.statuses.forall(_.contains("\"success\"")), s"got ${report.statuses}")
    // The audit is IN the plan: the write's physical plan carries a
    // CollectMetrics node (no cache, no separate count actions).
    val probe = Ingest.readCsv(spark, src, Ingestion.csvSchema,
      Ingest.Permissive("_corrupt_record"))
      .observe(org.apache.spark.sql.Observation(s"probe_${System.nanoTime()}"),
        count(lit(1)).as("n"))
    assert(probe.queryExecution.executedPlan.toString.contains("CollectMetrics"),
      "observe must plan as CollectMetrics")
  }

  test("runIngestJobObserved: both landing jobs inherit the caller's local properties") {
    // The quarantine write runs on its own thread; cancelJobGroup and
    // span parenting only reach it if that thread inherits the caller's
    // local properties (a pooled thread would not).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e.properties)
    }
    graft.streaming.LifecycleGate.flushListenerBus(spark)
    sc.addSparkListener(jobs)
    sc.setJobGroup("ingest_group_probe", "landing")
    sc.setLocalProperty("graft.test.span", "span-42")
    try {
      Ingest.runIngestJobObserved(spark, csvDir(goodRows :+ badRow), Ingestion.csvSchema,
        tempDir("ingest_props_wh").toString, tempDir("ingest_props_q").toString)
      graft.streaming.LifecycleGate.flushListenerBus(spark)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.test.span", null)
      sc.removeSparkListener(jobs)
    }
    val props = seen.toArray(Array.empty[java.util.Properties]).toSeq
    assert(props.size >= 2, s"expected the warehouse and quarantine jobs, saw ${props.size}")
    props.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") == "ingest_group_probe", s"job group lost: $p")
      assert(p.getProperty("graft.test.span") == "span-42", s"local property lost: $p")
    }
  }

  test("runIngestJobObserved: failed writes throw after both jobs end, listener removed") {
    import org.apache.spark.sql.util.QueryExecutionListener
    def statusListeners(): Int = spark.listenerManager.getClass
      .getMethod("listListeners").invoke(spark.listenerManager)
      .asInstanceOf[Array[QueryExecutionListener]]
      .count(_.isInstanceOf[graft.streaming.StatusListener])
    val before = statusListeners()
    val src = csvDir(goodRows :+ badRow)

    // Only the quarantine write fails: its error surfaces after the
    // warehouse write has finished.
    val wh = tempDir("ingest_fail_wh").toString
    val qErr = intercept[Exception] {
      Ingest.runIngestJobObserved(spark, src, Ingestion.csvSchema, wh, "nosuchfs://q")
    }
    assert(qErr.getMessage.contains("nosuchfs"), s"got $qErr")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "no landing job may outlive the call")
    assert(new java.io.File(wh, "_SUCCESS").exists(), "warehouse write must have completed")
    assert(spark.read.parquet(wh).count() == 2)
    assert(statusListeners() == before, "the landing's StatusListener must be unregistered")

    // Both fail: the warehouse error wins, the quarantine error is attached.
    val both = intercept[Exception] {
      Ingest.runIngestJobObserved(spark, src, Ingestion.csvSchema,
        "nosuchwh://w", "nosuchfs://q")
    }
    assert(both.getMessage.contains("nosuchwh"), s"warehouse error must win, got $both")
    assert(both.getSuppressed.exists(_.getMessage.contains("nosuchfs")),
      s"quarantine error must ride along as suppressed: ${both.getSuppressed.toSeq}")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(statusListeners() == before)
  }

  test("ingest_evolve: v1 files genuinely lack the evolved column; merged scan unions both generations") {
    val out = SparkEntry.queries("ingest_evolve")(spark, sfDir)
    val orders = graft.core.Tables.load(spark, sfDir, "orders")
    assert(out.count() == orders.count(), "merged scan must see every row")
    // Null exactly on the v1 (even-key) generation.
    assert(out.filter(col("status").isNull) .filter(col("o_orderkey") % 2 =!= 0).count() == 0)
    assert(out.filter(col("status").isNotNull).filter(col("o_orderkey") % 2 =!= 1).count() == 0)
    // The v1 files must NOT contain the column at all — the NULLs come
    // from schema reconciliation, not from a written all-null column.
    val warehouse = s"${sys.props("java.io.tmpdir")}/graft_warehouse"
    val evolveDir = new java.io.File(warehouse).listFiles()
      .filter(f => f.getName.startsWith("orders_evolve") &&
        f.getName.contains(s"_${ProcessHandle.current().pid()}"))
      .maxBy(_.lastModified).toString
    val v1Schema = spark.read.parquet(s"$evolveDir/v1").schema
    assert(!v1Schema.fieldNames.contains("o_orderstatus"),
      s"v1 generation must predate the column: ${v1Schema.fieldNames.mkString(",")}")
  }

  test("leafFiles: the listStatus walk finds listFiles' set on a partitioned store with _SUCCESS and a _temporary tree") {
    val dir = tempDir("walk_store")
    Tables.load(spark, sfDir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      .write.partitionBy("o_orderstatus").mode(SaveMode.Overwrite).parquet(dir.toString)
    val debris = dir.resolve("_temporary/0/_temporary/attempt_0/o_orderstatus=F")
    Files.createDirectories(debris)
    Files.write(debris.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    val root = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def key(s: org.apache.hadoop.fs.FileStatus) =
      (s.getPath.toString, s.getLen, s.getModificationTime)
    val it = fs.listFiles(root, true)
    val listed = Iterator.continually(it).takeWhile(_.hasNext).map(i => key(i.next())).toSet
    assert(listed.exists(_._1.endsWith("/_SUCCESS")) &&
      listed.exists(_._1.contains("/_temporary/")) &&
      listed.exists(_._1.contains("/o_orderstatus=O/")), s"fixture: $listed")
    val walked = graft.core.Versioned.leafFiles(fs, root).map(key)
    assert(walked.size == listed.size && walked.toSet == listed)
    // With Spark's hidden-name rule the walk skips _SUCCESS and the tree.
    val prefix = fs.makeQualified(root).toString + "/"
    val visible = graft.core.Versioned
      .leafFiles(fs, root, n => !n.startsWith("_") && !n.startsWith(".")).map(key).toSet
    assert(visible == listed.filterNot(_._1.stripPrefix(prefix).split('/')
      .exists(c => c.startsWith("_") || c.startsWith("."))))
    assert(visible.nonEmpty && visible.forall(_._1.endsWith(".parquet")))
  }

  test("compactWithErasure: a destination on another file system is counted on its own") {
    // A file: source and a graftlocal: destination — counting the output
    // on the source's file system fails with "Wrong FS".
    GraftLocalFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val src = tempDir("cwe_xfs_src").toString
    val orders = Tables.load(spark, sfDir, "orders")
    orders.repartition(4).write.mode(SaveMode.Overwrite).parquet(src)
    val dstDir = tempDir("cwe_xfs_dst")
    val deletion = orders.filter(col("o_custkey") % 13 === 0).select(col("o_custkey"))
    val (before, after, erased) = Ingest.compactWithErasure(spark, src,
      s"${GraftLocalFileSystem.Scheme}:$dstDir", deletion, "o_custkey")
    val expected = orders.filter(col("o_custkey") % 13 =!= 0)
    assert((before, after) == (4, 1), s"got ($before, $after)")
    assert(erased == orders.count() - expected.count())
    assertSameRows(spark.read.parquet(dstDir.toString), expected,
      "exactly the non-erased rows land on the other file system")
  }
}
