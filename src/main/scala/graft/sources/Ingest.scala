package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import graft.streaming.StatusListener

/** The [REF]-fidelity ingestion surface (SURVEY.md §2.1, §3.2).
  *
  * The reference system is an event-driven CSV ingestion pipeline: a data
  * partner drops a .csv into object storage (`/root/reference/Untitled
  * Diagram.drawio:201-203`), a watcher triggers the engine (`:150-152`),
  * the engine transforms and loads into a warehouse (`:79-87`) and an OLTP
  * store with read-back (`:88-98`), then emits a completion status
  * (`:147-149`). Spark-native mapping: schema'd `spark.read.csv` with an
  * explicit bad-record policy, `readStream.csv` + `Trigger.AvailableNow`
  * for the arrival trigger ([[graft.streaming.StreamOps.csvFileSource]]),
  * `DataFrameWriter.partitionBy` file sinks, `format("jdbc")` writers
  * behind a trait (no live database in this environment — the JDBC path is
  * asserted at plan/configuration level, see IngestSpec), and
  * [[StatusListener]] for the completion event.
  *
  * 100 TB notes: a schema'd CSV read is a single distributed pass —
  * no inference pre-scan; `PERMISSIVE` keeps bad rows quarantined in a
  * corrupt-record column so one rotten file can't kill a day-long load;
  * partitioned parquet output gives downstream readers partition pruning.
  */
object Ingest {

  /** Bad-record policy for text sources (CSV/JSON), SURVEY §2.1. */
  sealed abstract class ParsePolicy(val mode: String)
  /** Keep malformed rows; capture raw text in `corruptCol` (quarantine column). */
  final case class Permissive(corruptCol: String = "_corrupt_record") extends ParsePolicy("PERMISSIVE")
  /** Silently drop malformed rows. */
  case object DropMalformed extends ParsePolicy("DROPMALFORMED")
  /** Abort the job on the first malformed row. */
  case object FailFast extends ParsePolicy("FAILFAST")

  /** A reader under `policy`: `schema`, the `mode` option and, when
    * PERMISSIVE, the corrupt-record column (added to the schema unless
    * already there) named by `columnNameOfCorruptRecord`. */
  private def policyReader(spark: SparkSession, schema: StructType,
                           policy: ParsePolicy): DataFrameReader = {
    val r = spark.read.option("mode", policy.mode)
    policy match {
      case Permissive(c) =>
        r.schema(if (schema.fieldNames.contains(c)) schema
                 else schema.add(c, StringType, nullable = true))
          .option("columnNameOfCorruptRecord", c)
      case _ => r.schema(schema)
    }
  }

  /** Schema'd CSV scan with explicit bad-record policy. RFC-4180 quoting
    * (`""` escapes a quote inside a quoted field) so partner files written
    * by standard tooling parse identically everywhere. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              policy: ParsePolicy = Permissive(), header: Boolean = true): DataFrame =
    policyReader(spark, schema, policy)
      .option("header", header)
      .option("escape", "\"")
      .csv(path)

  /** Schema'd newline-delimited JSON scan with the same policy surface. */
  def readJson(spark: SparkSession, path: String, schema: StructType,
               policy: ParsePolicy = Permissive()): DataFrame =
    policyReader(spark, schema, policy).json(path)

  /** Partitioned parquet "warehouse" sink — the offline stand-in for the
    * [REF] warehouse load; partition columns give downstream scans
    * partition pruning (§4.2 PruneFileSourcePartitions). */
  def writePartitionedParquet(df: DataFrame, path: String,
                              partitionCols: Seq[String] = Nil,
                              mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** CSV file sink (header + RFC-4180 quoting). */
  def writeCsv(df: DataFrame, path: String, partitionCols: Seq[String] = Nil,
               mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode).option("header", true).option("escape", "\"")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).csv(path)
  }

  // ---- JDBC sinks ([REF] Redshift `:79-87` / PostgreSQL `:88-98`) ----

  /** Connection spec for a relational sink/source. */
  final case class JdbcTarget(url: String, table: String,
                              user: String = "", password: String = "",
                              driver: String = "org.postgresql.Driver",
                              batchSize: Int = 10000)

  /** Warehouse/OLTP writer abstraction: production impl is JDBC; the
    * offline test env swaps in the parquet impl. (SURVEY §7.4-5: no live
    * database here, so JDBC correctness is asserted on the configured
    * writer, not a round-trip.) */
  trait WarehouseWriter {
    def write(df: DataFrame, mode: SaveMode): Unit
  }

  /** The exact option set a JDBC writer/reader is configured with — a pure
    * function so the offline tests can assert the wiring (SURVEY §7.4-5:
    * no live database in this env, correctness is plan/config-level). */
  def jdbcOptions(t: JdbcTarget): Map[String, String] = {
    val base = Map(
      "url" -> t.url,
      "dbtable" -> t.table,
      "driver" -> t.driver,
      "batchsize" -> t.batchSize.toString)
    // Credentials only when actually set: an explicit empty `user`
    // property OVERRIDES URL-embedded credentials on several drivers
    // (PostgreSQL included), which would fail the bulk load while the
    // merge connection — which already omits empty creds — succeeds.
    // Both halves of JdbcUpsertWriter now agree.
    base ++
      (if (t.user.nonEmpty) Map("user" -> t.user) else Map.empty) ++
      (if (t.password.nonEmpty) Map("password" -> t.password) else Map.empty)
  }

  /** Bulk JDBC load — the [REF] warehouse flow. `configured` exposes the
    * fully-specified writer so tests can assert format/options without a
    * live endpoint; `write` executes it. */
  final class JdbcWarehouseWriter(target: JdbcTarget) extends WarehouseWriter {
    def configured(df: DataFrame, mode: SaveMode): DataFrameWriter[Row] =
      df.write.format("jdbc").mode(mode).options(jdbcOptions(target))
    override def write(df: DataFrame, mode: SaveMode): Unit =
      configured(df, mode).save()
  }

  /** Parquet-directory impl for the offline environment. */
  final class ParquetWarehouseWriter(dir: String, partitionCols: Seq[String] = Nil)
      extends WarehouseWriter {
    override def write(df: DataFrame, mode: SaveMode): Unit =
      writePartitionedParquet(df, dir, partitionCols, mode)
  }

  /** OLTP read-back ([REF] bidirectional PostgreSQL edge): a configured
    * JDBC reader. Returned unloaded so the offline tests can assert the
    * source configuration; `.load()` executes against a live database. */
  def jdbcRead(spark: SparkSession, target: JdbcTarget): DataFrameReader =
    spark.read.format("jdbc").options(jdbcOptions(target) - "batchsize")

  /** Staged UPSERT into a relational sink — the warehouse merge pattern
    * the [REF] Redshift edge needs for incremental loads, because Redshift
    * has no native upsert and PostgreSQL's `ON CONFLICT` over JDBC is
    * row-at-a-time:
    *
    *   1. bulk-load the delta batch into a STAGING table (Spark's parallel
    *      JDBC writer here; production Redshift spells this exact step
    *      `UNLOAD`→S3→`COPY`, same shape — the only data-sized movement),
    *   2. in ONE warehouse-side transaction: set-based
    *      `DELETE target WHERE key matches staging` + `INSERT target
    *      SELECT * FROM staging`.
    *
    * The merge statements are control-plane SQL executed inside the
    * warehouse engine — no rows flow back through Spark — and the single
    * transaction means readers never observe a half-merged table. The
    * sequence is idempotent: replaying the same delta deletes what it just
    * inserted and inserts it again (the property STR-WH2 relies on for
    * exactly-once streaming sinks; certified for this writer in
    * IngestSpec). Works on any ANSI target with correlated-EXISTS DELETE
    * (Derby, PostgreSQL, Redshift); engines with MERGE can swap step 2 for
    * it without changing the calling convention.
    *
    * Contract: the delta must be KEY-UNIQUE (one row per key — the shape a
    * CDC compaction like `cdc_latest`/MRG-1 emits). Delete-then-insert
    * replaces a key with *all* delta rows carrying it, so a duplicated key
    * would land twice; dedupe upstream where latest-wins is intended. A
    * failed merge rolls the transaction back and leaves the target
    * byte-identical (certified in IngestSpec). */
  final class JdbcUpsertWriter(target: JdbcTarget, keyCols: Seq[String]) {
    // Per-WRITER staging name: a fixed `<table>_stage` would let two
    // concurrent upserts into the same target clobber each other's staged
    // delta between load and merge (silent row loss/duplication) — each
    // writer stages into its own table, and the merge only ever reads its
    // own staging. The staging table is dropped after a successful merge.
    // A CRASHED run's leftover is never reused (the next writer gets a
    // fresh name), so without a sweep the target database accumulates
    // `<table>_stage_*` debris forever; `dropStaleStaging` below reclaims
    // same-host debris on writer start. The name embeds host + pid so the
    // sweep can prove the owner dead: a pid is only meaningful on the
    // host that minted it.
    // None when the hostname doesn't resolve (minimal containers often
    // lack their own /etc/hosts entry): the writer must still WORK — it
    // falls back to a constant name tag and skips the sweep, since a
    // same-host liveness proof is impossible without a host identity.
    private val host: Option[String] =
      scala.util.Try(java.net.InetAddress.getLocalHost.getHostName
        .replaceAll("[^A-Za-z0-9]", "")).toOption.filter(_.nonEmpty)
    val stagingTable: String =
      s"${target.table}_stage_${host.getOrElse("unknownhost")}_" +
        s"${ProcessHandle.current().pid()}_" +
        java.lang.Long.toUnsignedString(System.nanoTime(), 36)

    /** Best-effort reclaim of crashed-run staging debris: drop every
      * `<table>_stage_<thisHost>_<pid>_*` table whose pid is no longer a
      * live process on THIS host. Same-host only — a pid from another
      * host can't be liveness-checked here, so cross-host debris is left
      * for that host's next writer (or an ops sweep). A live concurrent
      * writer's staging is never touched: its pid is alive. Failures are
      * swallowed — cleanup must never fail the upsert it rides on. */
    private def dropStaleStaging(conn: java.sql.Connection): Unit = host.foreach { h =>
      val Pat = s"(?i)${java.util.regex.Pattern.quote(target.table)}_STAGE_${h}_(\\d+)_.*".r
      try {
        val md = conn.getMetaData
        val rs = md.getTables(null, null, "%", Array("TABLE"))
        val stale = scala.collection.mutable.ArrayBuffer[String]()
        while (rs.next()) {
          rs.getString("TABLE_NAME") match {
            // Unprovable liveness (overflowed pid digits, platform quirks)
            // reads as ALIVE — never drop what might be a live writer's.
            case t @ Pat(pid)
                if scala.util.Try(ProcessHandle.of(pid.toLong).isEmpty)
                  .getOrElse(false) => stale += t
            case _ =>
          }
        }
        rs.close()
        stale.foreach { t =>
          try { val st = conn.createStatement()
            try st.executeUpdate(s"DROP TABLE $t") finally st.close() }
          catch { case _: java.sql.SQLException => () } // raced another sweep
        }
      } catch { case _: java.sql.SQLException => () }
    }
    def upsert(df: DataFrame): Unit = {
      new JdbcWarehouseWriter(target.copy(table = stagingTable))
        .write(df, SaveMode.Overwrite)
      // Spark's JDBC writer creates COLUMNS as quoted (case-sensitive)
      // identifiers but the table name unquoted — the merge SQL must quote
      // to match, or Derby/PostgreSQL fold the reference to uppercase and
      // miss (same trap documented at StreamOps.runToJdbcWarehouse).
      val cols = df.schema.fieldNames.map(c => s""""$c"""").mkString(", ")
      val keyMatch = keyCols.map(k => s"""t."$k" = s."$k"""").mkString(" AND ")
      // The bulk write above loads the driver class when Spark handles it;
      // register explicitly so the merge connection never depends on that.
      Class.forName(target.driver)
      val conn =
        if (target.user.isEmpty) java.sql.DriverManager.getConnection(target.url)
        else java.sql.DriverManager.getConnection(target.url, target.user, target.password)
      try {
        // Reclaim same-host debris from crashed runs before staging more
        // (autocommit still on here — metadata reads + independent DROPs).
        dropStaleStaging(conn)
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        try {
          st.executeUpdate(s"DELETE FROM ${target.table} t WHERE EXISTS " +
            s"(SELECT 1 FROM $stagingTable s WHERE $keyMatch)")
          st.executeUpdate(
            s"INSERT INTO ${target.table} ($cols) SELECT $cols FROM $stagingTable")
        } finally st.close()
        conn.commit()
        // Drop the staging AFTER the commit, in its own statement: inside
        // the merge transaction it would rely on transactional DDL, and on
        // engines with implicit-commit DDL (MySQL, Oracle) the DROP would
        // commit the preceding DELETE+INSERT mid-transaction — silently
        // voiding the rollback-leaves-target-byte-identical guarantee.
        // Out here the guarantee holds on ANY engine; a failed merge rolls
        // back and leaves the staging table intact for post-mortem (the
        // next writer's dropStaleStaging reclaims it once this pid dies).
        // Best-effort: the merge is already committed, so a DROP failure
        // must not surface as an upsert failure — the sweep reclaims it.
        conn.setAutoCommit(true)
        try { val drop = conn.createStatement()
          try drop.executeUpdate(s"DROP TABLE $stagingTable") finally drop.close() }
        catch { case _: java.sql.SQLException => () }
      } catch { case e: Throwable =>
        // Rollback best-effort: if the MERGE failed because the connection
        // died, rollback() throws too — that failure must not mask the
        // original exception (it rides along as suppressed instead).
        try conn.rollback()
        catch { case rb: Throwable => e.addSuppressed(rb) }
        throw e
      }
      finally conn.close()
    }
  }

  /** Opaque media ingestion: whole files as rows via the `binaryFile`
    * source — (path, modificationTime, length, content BINARY) — the entry
    * point of the multimodal pipeline (SURVEY §2.4 MM-*): images/audio land
    * as `content` bytes feeding [[graft.operators.Multimodal]] decode.
    * Pattern-filtered at the listing (`pathGlobFilter`), so a mixed bucket
    * only reads matching objects. 100 TB note: binaryFile caps a row at
    * `spark.sql.sources.binaryFile.maxLength` (2 GB hard limit — single
    * Row payloads live in one task's heap); real pipelines shard larger
    * media upstream. */
  def readBinaryFiles(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)

  /** Recursive parquet-leaf listing for the compaction sizing pass, with a
    * flat-layout guard: a hive-partitioned directory (the
    * `writePartitionedParquet` + partitionCols output) has its part files
    * one level down, so a top-level-only listing reads totalBytes=0 and
    * the rewrite both mis-sizes to one file AND silently flattens the
    * partition layout. Compaction of a partitioned table is per partition
    * directory — fail fast instead of flattening. */
  private def flatParquetLeaves(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    // Qualified like the listed paths, or every top-level file reads as
    // "nested".
    val qdir = fs.makeQualified(dir)
    // Spark's own hidden-file convention: any path component starting
    // with '_' or '.' is metadata/debris (_temporary from a crashed
    // write, .staging-* dirs, _SUCCESS). Debris below such a component
    // must neither count toward sizing nor flip the partitioned-layout
    // flag — a legitimately flat directory with a leftover _temporary
    // tree would otherwise fail compaction with a misleading error.
    val leaves = graft.core.Versioned
      .leafFiles(fs, qdir, n => !n.startsWith("_") && !n.startsWith("."))
      .filter(_.getPath.getName.endsWith(".parquet"))
    require(leaves.forall(_.getPath.getParent == qdir),
      s"$dir holds parquet files in subdirectories (a partitioned layout): " +
        "compact each partition directory instead — compacting across " +
        "partitions would silently flatten the layout")
    leaves
  }

  /** Compaction's sizing rule: output files for `bytes` at the target. */
  private def filesFor(bytes: Double, targetFileBytes: Long): Int =
    math.max(1, math.ceil(bytes / targetFileBytes).toInt)

  /** The parquet files a compaction left in `dst`, counted on `dst`'s own
    * file system. */
  private def parquetFilesIn(spark: SparkSession, dst: Path): Int =
    dst.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dst)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Small-files compaction — the nightly operational pass every file-based
    * warehouse needs: streaming/micro-batch sinks and per-partition writers
    * leave thousands of KB-sized files, and at 100 TB the resulting
    * listing + task-scheduling overhead dominates scans (one task per tiny
    * file). Rewrites `srcDir` into `dstDir` with files sized toward
    * `targetFileBytes`: file count = ceil(actual bytes / target), measured
    * from the source listing (no data pass), rows redistributed
    * round-robin (`repartition(n)`) so output files are uniform. A source
    * that is already ONE file at or under the target has nothing to merge:
    * it is copied byte-for-byte through the Hadoop FileSystem API instead
    * (no Spark job — the rewrite would cost schema inference, a shuffle map
    * and a write to reproduce the same file), the same skip Iceberg's
    * `rewrite_data_files` (min-input-files) and Delta's OPTIMIZE
    * (single-file bins) make. Both paths overwrite `dstDir` and leave
    * `_SUCCESS`. Returns (filesBefore, filesAfter). Content-preserving by
    * construction — certified in IngestSpec. */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(srcDir).getFileSystem(conf)
    val parts = flatParquetLeaves(fs, new Path(srcDir))
    val n = filesFor(parts.map(_.getLen).sum.toDouble, targetFileBytes)
    val dst = new Path(dstDir)
    val dfs = dst.getFileSystem(conf)
    if (parts.length == 1 && n == 1) {
      // Copy under a '_' name (invisible to Spark's file index), then
      // rename into place, so a reader never lists a half-copied file.
      val src = parts.head.getPath
      dfs.delete(dst, true)
      dfs.mkdirs(dst)
      val tmp = new Path(dst, s"_copying-${src.getName}")
      if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, dfs, tmp, false, conf) ||
          !dfs.rename(tmp, new Path(dst, src.getName)))
        throw new java.io.IOException(s"compact: cannot copy $src into $dst")
      dfs.create(new Path(dst, "_SUCCESS"), true).close()
    } else
      spark.read.parquet(srcDir).repartition(n)
        .write.mode(SaveMode.Overwrite).parquet(dstDir)
    (parts.length, parquetFilesIn(spark, dst))
  }

  /** GDPR erasure FOLDED INTO the compaction rewrite — the 100 TB
    * execution of GDPR-1's declared plan ("at 100 TB either folded into
    * the nightly compaction rewrite — pay a rewrite already being paid —
    * or expressed as table-format deletion vectors"): the nightly
    * small-files pass is already reading and rewriting every byte, so the
    * broadcast `left_anti` against the deletion list rides along for
    * free — no second data pass, no separate erasure job, and the erasure
    * SLA collapses to the compaction cadence. Same sizing rule as
    * [[compact]] (target bytes scaled by the survivor fraction so output
    * files stay near target size); returns (filesBefore, filesAfter,
    * rowsErased) — the per-table audit row GDPR-1 requires, derived from
    * exact counts. */
  def compactWithErasure(spark: SparkSession, srcDir: String, dstDir: String,
                         deletionList: org.apache.spark.sql.DataFrame,
                         keyCol: String,
                         targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int, Long) = {
    val srcPath = new Path(srcDir)
    val parts = flatParquetLeaves(
      srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration), srcPath)
    val totalBytes = parts.map(_.getLen).sum
    val src = spark.read.parquet(srcDir)
    // Metadata-only on an unfiltered parquet scan (footer row counts) —
    // not a data pass.
    val total = src.count()
    // left_anti moves the join key to the front; restore the source
    // schema order — a compaction rewrite must be layout-invisible.
    val kept = src.join(
      org.apache.spark.sql.functions.broadcast(deletionList.select(keyCol).distinct()),
      Seq(keyCol), "left_anti")
      .select(src.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    // Sizing uses an ESTIMATE (total − deletion-list keys: a lower bound
    // on survivors, since unmatched deletions erase nothing) so the exact
    // survivor count can ride the write itself as a CollectMetrics
    // observation instead of being paid as a separate full anti-join pass
    // — the 'no second data pass' contract, kept honest. A low estimate
    // only makes output files slightly larger than target.
    val delKeys = deletionList.select(keyCol).distinct().count()
    val survivorsEst = math.max(0L, total - delKeys)
    val keptBytes = if (total == 0) 0.0
                    else totalBytes.toDouble * survivorsEst / total
    val n = filesFor(keptBytes, targetFileBytes)
    val obs = new org.apache.spark.sql.Observation()
    kept.observe(obs, org.apache.spark.sql.functions
        .count(org.apache.spark.sql.functions.lit(1)).as("survivors"))
      .repartition(n).write.mode(SaveMode.Overwrite).parquet(dstDir)
    val survivors = obs.get("survivors").asInstanceOf[Long]
    (parts.length, parquetFilesIn(spark, new Path(dstDir)), total - survivors)
  }

  // ---- The ingestion job (diagram flows 1-3 in miniature) ----

  final case class IngestReport(rowsRead: Long, rowsQuarantined: Long,
                                rowsWritten: Long, statuses: List[String])

  /** One [REF]-shaped ingestion run: schema'd CSV read with PERMISSIVE
    * quarantine → clean rows to the partitioned parquet warehouse, corrupt
    * rows to `quarantineDir` → completion status from the attached
    * listener. The read/quarantine counters ride the warehouse write as
    * `Dataset.observe` (CollectMetrics) plan-level metrics instead of
    * separate count actions over a cached frame: the warehouse side scans
    * the landing data once, and the audit numbers are exactly the write
    * job's own row stream, so they can never diverge from what landed. */
  def runIngestJobObserved(spark: SparkSession, csvPath: String, schema: StructType,
                           warehouseDir: String, quarantineDir: String,
                           partitionCols: Seq[String] = Nil): IngestReport = {
    import org.apache.spark.sql.functions._
    val listener = StatusListener.attach(spark)
    try {
      val corruptCol = "_corrupt_record"
      val obs = org.apache.spark.sql.Observation(
        s"ingest_gate_${System.nanoTime()}")
      val raw = readCsv(spark, csvPath, schema, Permissive(corruptCol))
      // One pass: clean rows flow to the warehouse carrying the counters.
      val clean = raw.observe(obs,
          count(lit(1)).as("rows_read"),
          sum(when(col(corruptCol).isNotNull, 1L).otherwise(0L)).as("rows_bad"))
        .filter(col(corruptCol).isNull).drop(corruptCol)
      // The quarantine write re-parses the whole CSV (the corrupt filter
      // needs every row parsed), so it is a second job as large as the
      // first. On a small drop each job is mostly fixed scheduling cost
      // and one task, so the two run side by side: the quarantine write
      // goes on its own fresh thread, which inherits the caller's Spark
      // local properties (job group, scheduler pool, tracing span) as a
      // pooled thread would not. Full rows, not just the raw-line column:
      // Spark disallows corrupt-record-only projections from raw CSV
      // (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the parsed-null columns
      // are the repair operator's context anyway.
      var quarantineError: Throwable = null
      val quarantine = new Thread(() =>
        try raw.filter(col(corruptCol).isNotNull)
          .write.mode(SaveMode.Overwrite).parquet(quarantineDir)
        catch { case e: Throwable => quarantineError = e },
        "ingest-quarantine")
      quarantine.start()
      // Always join before returning or throwing, so no job of this
      // landing outlives the call. The warehouse error wins; a quarantine
      // error rides along as suppressed, or is rethrown on its own.
      try writePartitionedParquet(clean, warehouseDir, partitionCols)
      catch { case e: Throwable =>
        joinUninterruptibly(quarantine)
        if (quarantineError != null) e.addSuppressed(quarantineError)
        throw e
      }
      joinUninterruptibly(quarantine)
      if (quarantineError != null) throw quarantineError
      val m = obs.get
      val read = m("rows_read").asInstanceOf[Long]
      val bad = Option(m("rows_bad")).map(_.asInstanceOf[Long]).getOrElse(0L)
      // QueryExecutionListener events post asynchronously: flush the
      // shared bus so both writes' completion records are in the report,
      // with the bounded poll as the fallback.
      graft.streaming.LifecycleGate.flushListenerBus(spark)
      IngestReport(read, bad, read - bad,
        graft.streaming.LifecycleGate.awaitStatuses(listener))
    } finally spark.listenerManager.unregister(listener)
  }

  private def joinUninterruptibly(t: Thread): Unit = {
    var interrupted = false
    while (t.isAlive)
      try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
