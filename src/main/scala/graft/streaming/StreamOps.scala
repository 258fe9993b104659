package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, Trigger, ValueState}
import org.apache.hadoop.fs.Path
import java.sql.Timestamp

/** Streaming operators (SURVEY.md §2.5) over the events schema.
  *
  * Reference analog: the file-arrival-triggered ingestion flow
  * (`/root/reference/Untitled Diagram.drawio:150-152` — "Lambda will look
  * for new file in specific S3 location and launch EC2") maps to a
  * Structured Streaming file source with `Trigger.AvailableNow`; the
  * completion-status flow (`:147-149`) maps to a StreamingQueryListener
  * ([[StatusListener]]).
  *
  * Every transform here takes a DataFrame so the same code path serves a
  * batch frame (for the oracle-checked twins EVT-1/EVT-2) and a streaming
  * frame — batch/stream equivalence is asserted in StreamingSpec.
  *
  * Scale notes: stateful ops key by user_id (hash-partitioned state store);
  * watermarks bound state size; windows are pre-aggregated per partition
  * before the shuffle (partial aggregation applies to streaming aggs too).
  */
object StreamOps {

  /** [REF] trigger fidelity: the Lambda-watches-S3 flow (`Untitled
    * Diagram.drawio:150-152`) over partner CSVs — a schema'd CSV file
    * source; run with `Trigger.AvailableNow` for batch-per-arrival or
    * `maxFilesPerTrigger=1` for one micro-batch per file. */
  def csvFileSource(spark: SparkSession, dir: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", true)
      .option("escape", "\"")
      .option("maxFilesPerTrigger", 1)
      .csv(dir)

  /** STR-NTFY: event-NOTIFICATION trigger — the [REF] S3-event→Lambda flow
    * (`Untitled Diagram.drawio:150-152`) without the LIST. The polling
    * sources above discover arrivals by listing the data directory every
    * trigger — O(#files accumulated forever) per trigger, the known
    * object-store scaling wall. The notification analog inverts it: the
    * producer (the S3-event→SQS bridge in the deployed architecture; any
    * writer here) appends a tiny manifest file to `queueDir` whose LINES
    * are the newly-arrived data paths, and the stream reads the QUEUE —
    * listing cost ∝ outstanding notifications (small, drainable), never ∝
    * the data directory's history, and the data directory is never listed
    * at all. The queue file source is checkpointed like any other, so the
    * arrival log replays exactly-once across restarts. */
  def notificationSource(spark: SparkSession, queueDir: String): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(queueDir)

  /** Drain the notification queue, loading each notified parquet file into
    * `outDir` — exactly-once at FILE granularity: every loaded row lands in
    * a partition keyed by a hash of its source path, written with
    * batch-keyed dynamic partition overwrite, so BOTH redelivery modes
    * converge to one copy — a replayed micro-batch (writer crash before
    * checkpoint commit) and a duplicate notification of the same path
    * (at-least-once queue semantics, the S3-event contract) each rewrite
    * the same partition with identical content instead of appending a
    * second copy. The per-batch driver collect is the notification list —
    * queue-bounded (≤ lines per manifest file), never data-bounded. */
  def runNotifiedLoad(spark: SparkSession, queueDir: String,
                      schema: org.apache.spark.sql.types.StructType,
                      outDir: String, checkpointDir: String,
                      format: String = "parquet"): Unit =
    drainBatches(notificationSource(spark, queueDir), checkpointDir) { (batch, _) =>
      // .distinct: an at-least-once producer can write the SAME path
      // twice within one manifest (intra-batch duplicate) — without the
      // dedup both copies land in one _src partition and the overwrite
      // commits doubled content; cross-batch duplicates converge via the
      // partition rewrite, same-batch ones must converge here.
      val paths = batch.collect().toSeq.map(_.getString(0).trim)
        .filter(_.nonEmpty).distinct
      if (paths.nonEmpty) appendToCurrent(spark, outDir, "notified load") { vd =>
        val reader = spark.read.schema(schema)
        val src = format match {
          case "csv" => reader.option("header", true).option("escape", "\"")
            .csv(paths: _*)
          case _ => reader.parquet(paths: _*)
        }
        // Dynamic overwrite is a PER-WRITE option, not a session-conf
        // mutation: toggling the session conf inside foreachBatch would
        // leak dynamic-overwrite semantics to any concurrent write in
        // the same SparkSession (and two concurrent notified loads
        // would race the set/restore).
        src.withColumn("_src", md5(input_file_name()))
          .write.partitionBy("_src").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(vd.toString)
      }
    }

  /** The one AvailableNow driver every sink here runs through: start `w`
    * under `Trigger.AvailableNow` (checkpointed when `checkpointDir` is
    * given), drain all available input and return once it is processed. */
  private def drain[T](w: DataStreamWriter[T],
                       checkpointDir: Option[String] = None): Unit =
    checkpointDir.fold(w)(w.option("checkpointLocation", _))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** [[drain]] for a `foreachBatch` sink: `f` gets each micro-batch and its
    * id. */
  private def drainBatches(df: DataFrame, checkpointDir: String,
                           mode: OutputMode = OutputMode.Append)
                          (f: (DataFrame, Long) => Unit): Unit =
    drain(df.writeStream.outputMode(mode).foreachBatch(f), Some(checkpointDir))

  /** The versioned-store commit protocol both `_src`-keyed writers
    * ([[runSrcKeyedIngest]], [[runNotifiedLoad]]) run each micro-batch
    * through: resolve the pointer (bootstrapping `v=1` on a store's first
    * batch), `write` ONLY inside that version directory, then RE-VALIDATE
    * the pointer after the write's job commit. A moved pointer means a
    * compaction published a new version whose input may predate this
    * write — throwing keeps the micro-batch UNCOMMITTED, so the
    * checkpointed source redelivers it and the writer's keying reconverges
    * inside whichever version is now current. (If the compaction DID see
    * the write, redelivery is a no-op rewrite of the same `_src`
    * partitions.) This closes the lost-append race by construction; see
    * [[compactStore]]'s proof sketch. */
  private def appendToCurrent(spark: SparkSession, outDir: String, what: String)
                             (write: Path => Unit): Unit = {
    val t = storeTable(spark, outDir)
    val v = t.bootstrap()
    write(t.vdir(v))
    ingestPostAppendHook()
    if (!t.current.contains(v))
      throw new java.io.IOException(
        s"$what superseded: $outDir advanced past v=$v while this " +
          "micro-batch was writing — left uncommitted; the checkpointed " +
          "source redelivers it against the current version")
  }

  /** Nearest-centroid cell assignment shared by STR-IVF's streaming index
    * maintenance and its batch twin: every vector in `vecs`
    * (vec_id, embedding ARRAY<FLOAT>) scores against the broadcast
    * centroid table `cent` (cell_label, ce ARRAY<DOUBLE>) and keeps its
    * argmax-cosine cell (ties → smaller label — the SIM-1d rule). The
    * centroid table is index METADATA (k rows), so the cross is the
    * declared vectors × broadcast-k shape, never data × data. */
  def assignCells(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val base = vecs.select(col("vec_id"), dbl.as("e"))
    graft.operators.IvfAssign.ranked(base, cent)
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cell_label").as("cell"))
  }

  /** The exactly-once-per-FILE ingest skeleton shared by every streamed
    * store builder (review fix — four verbatim copies diverge silently):
    * a checkpointed AvailableNow file stream where each micro-batch tags
    * rows with `_src = md5(path)`, DELETES its own `_src=` partitions
    * inside the current version ([[appendToCurrent]]), then appends
    * `rowsFor(taggedBatch)` partitioned by
    * (partCols…, _src-last-ordering preserved via `partSpec`). The
    * delete-then-append keying converges under replay, duplicate
    * delivery, and metadata retrain between crash and replay — the laws
    * StreamingSpec pins once and every consumer inherits. */
  private def runSrcKeyedIngest(spark: SparkSession, src: DataFrame,
      outDir: String, checkpointDir: String, partSpec: Seq[String])
      (rowsFor: DataFrame => DataFrame): Unit =
    drainBatches(src, checkpointDir) { (batch, _) =>
      val withSrc = batch.withColumn("_src", md5(input_file_name()))
      // ≤ maxFilesPerTrigger values — a scan-only distinct, never the
      // transform plan (which would run twice otherwise).
      val srcs = withSrc.select(col("_src")).distinct()
        .collect().map(_.getString(0))
      if (srcs.nonEmpty) appendToCurrent(spark, outDir, "ingest") { vd =>
        val fs = vd.getFileSystem(spark.sparkContext.hadoopConfiguration)
        srcs.foreach(h => fs.delete(new Path(vd, s"_src=$h"), true))
        rowsFor(withSrc)
          .write.partitionBy(partSpec: _*).mode("append")
          .parquet(vd.toString)
      }
    }

  /** The arrival stream and store layout the three STR-IVF ingests share:
    * embedding files one per micro-batch, stored by (`_src`, cell). */
  private def runCellIngest(spark: SparkSession, vecDir: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      checkpointDir: String)(rowsFor: DataFrame => DataFrame): Unit =
    runSrcKeyedIngest(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(vecDir),
      outDir, checkpointDir, Seq("_src", "cell"))(rowsFor)

  /** (vec_id, _src, vn): each vector's exact norm, by the IDENTICAL
    * expression the batch assignment computes (sqrt of the codegen'd
    * in-order dot fold) — bit-equal doubles. */
  private def vectorNorms(withSrc: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.dot_product
    val dbl = transform(col("embedding"), x => x.cast("double"))
    withSrc.select(col("vec_id"), col("_src"), sqrt(dot_product(dbl, dbl)).as("vn"))
  }

  /** STR-IVF: streaming ANN index maintenance — the arrival half of the
    * SIM-1d/SIM-1e index kept fresh without rebuilds: each micro-batch of
    * newly-landed embedding files is assigned to the PUBLISHED centroid
    * table (index metadata, broadcast) and appended to the cell-partitioned
    * inverted-list store — the layout `ivf_pq` searches. Windows are not
    * available on streaming frames, so the per-vector argmin runs inside
    * foreachBatch (each micro-batch is a batch plan); exactly-once at FILE
    * granularity by DELETE-THEN-APPEND keyed on the source-file hash: the
    * store partitions as `_src=<md5(path)>/cell=…`, and each micro-batch
    * first drops its own `_src` directories, then appends. Unlike a
    * (cell, _src) dynamic overwrite — which only replaces partitions the
    * NEW data lands in — this converges even when the centroid table
    * changed between a crashed attempt and its replay (the retrain case:
    * a vector reassigned c1→c2 would otherwise survive in both cells,
    * since the replay's overwrite never touches the stale (c1, src)
    * partition). The delete list is ≤ files-per-trigger directories,
    * driver-side, through the Hadoop FileSystem API (any scheme). At
    * 100 TB the centroid table stays k rows (broadcast), arrivals cost ∝
    * batch × k, and cell partitions compact on the usual schedule —
    * centroid RETRAINING is the batch job (kmeans_iter), republished via
    * Snapshot; this op only maintains the lists between retrains. */
  def runIvfIngest(spark: SparkSession, vecDir: String,
                   schema: org.apache.spark.sql.types.StructType,
                   cent: DataFrame, outDir: String,
                   checkpointDir: String): Unit = {
    runCellIngest(spark, vecDir, schema, outDir, checkpointDir) { withSrc =>
      assignCells(withSrc, cent).join(withSrc, Seq("vec_id"))
    }
  }

  /** STR-IVF's PQ half: encode arriving vectors against a PUBLISHED
    * codebook (index metadata, like the centroid table) through the SAME
    * `operators/PqEncode` core the batch ivf_pq pipeline uses — streamed
    * codes and batch codes cannot drift. Stateless per row (the codebook
    * is fixed between retrains), so it composes into `runIvfIngest`'s
    * foreachBatch exactly like `assignCells`: an arrival lands as
    * (vec_id, cell, 8 codes, norm) — the complete IVFADC search state —
    * without ever storing the raw vector in the hot index. */
  def encodePq(vecs: DataFrame, book: DataFrame): DataFrame =
    graft.operators.PqEncode.encodeWide(vecs, book)

  /** STR-IVF composed: the COMPLETE IVFADC search-state ingest — each
    * arriving embedding file lands as (vec_id, sp, cw, vn) rows
    * partitioned by (_src, cell): cell assignment against the PUBLISHED
    * centroid table ([[assignCells]]), PQ codes against the PUBLISHED
    * codebook ([[encodePq]]), and the exact vector norm — the full
    * per-vector state `ivf_pq`'s ADC scan + re-rank shortlist needs,
    * with the raw vector never stored in the hot index. Exactly-once per
    * file by the same DELETE-THEN-APPEND keying as [[runIvfIngest]]
    * (survives replay, duplicate delivery, and centroid retrain between
    * crash and replay). The gated parity query `ivf_pq_stream` searches
    * this store and must hash-match batch `ivf_pq` on the same corpus —
    * the executable proof that streamed and batch index state cannot
    * drift. */
  def runIvfAdcIngest(spark: SparkSession, vecDir: String,
                      schema: org.apache.spark.sql.types.StructType,
                      cent: DataFrame, book: DataFrame, outDir: String,
                      checkpointDir: String): Unit = {
    runCellIngest(spark, vecDir, schema, outDir, checkpointDir) { withSrc =>
      assignCells(withSrc, cent)
        .join(encodePq(withSrc, book), Seq("vec_id"))
        .join(vectorNorms(withSrc), Seq("vec_id"))
    }
  }

  /** STR-IVF-SQ: the scalar-quantized sibling of [[runIvfAdcIngest]] —
    * each arriving embedding file lands as (vec_id, nq, vn) rows
    * partitioned by (_src, cell): cell assignment against the PUBLISHED
    * centroid table, SQ code numerators against the PUBLISHED per-dim
    * [min,max] grid (`LlmOps.sqEncodeWith` — the SAME encoder the batch
    * `ivf_sq` pipeline runs, per-row pure so slices encode identically),
    * and the exact vector norm. Exactly-once per file by the same
    * DELETE-THEN-APPEND `_src` keying. The gated parity query
    * `ivf_sq_stream` searches this store and must hash-match batch
    * `ivf_sq` under its own oracle. */
  def runIvfSqIngest(spark: SparkSession, vecDir: String,
                     schema: org.apache.spark.sql.types.StructType,
                     cent: DataFrame, sqStats: DataFrame, outDir: String,
                     checkpointDir: String): Unit = {
    runCellIngest(spark, vecDir, schema, outDir, checkpointDir) { withSrc =>
      assignCells(withSrc, cent)
        .join(graft.queries.LlmOps.sqEncodeWith(
          graft.queries.LlmOps.sqLongForm(withSrc), sqStats),
          Seq("vec_id"))
        .join(vectorNorms(withSrc), Seq("vec_id"))
    }
  }

  /** STR-CLS: streamed model application (`runScoredIngest`) — the
    * MODEL half of the maintained-artifact story whose INDEX half is
    * [[runIvfAdcIngest]]: a quality classifier is trained by a batch job
    * (CLS-1, `quality_lr`) and its three broadcast-sized relations
    * (standardization stats, bucket weights, bias) are published as
    * index metadata; every arriving document file is scored against the
    * PUBLISHED model by the SAME `LlmOps.lrScore` implementation the
    * gated batch apply runs — one scorer, so streamed and batch scores
    * cannot drift (pinned in StreamingSpec). Per-doc features (tf over
    * hashed-gram buckets) are slice-local by construction, so scoring a
    * file in isolation is exactly scoring it inside the whole corpus.
    * Exactly-once per FILE by [[runIvfIngest]]'s DELETE-THEN-APPEND
    * `_src` keying — replay and duplicate delivery leave the distinct
    * score set unchanged, and re-scoring under a RETRAINED model leaves
    * no stale-model rows. At-least-once residue, COMPACTION EXECUTABLE
    * (r12 verdict task 2): the keying is by `_src` = md5(path), so a
    * duplicate-DELIVERED file (same content, new name) legitimately
    * leaves the same doc's score row under TWO `_src` partitions until
    * the maintenance pass — readers either apply `.distinct()` on the
    * score columns or read a store compacted by
    * [[compactStore]](keyCols = doc_id, partSpec = _src); the
    * StreamingSpec law pins that the post-compact store equals the
    * gated batch apply with NO read-side DISTINCT (STR-COMPACT's shape
    * applied to the scored store). At 100 TB this is the standard
    * serving shape: retrain periodically in batch, re-publish, and let
    * the arrival stream score against whatever model version is
    * current.
    *
    * CALIBRATED SERVING (r12 verdict task 6): `temp` is the published
    * temperature relation — the 1-row (u = 1/T) output of
    * [[graft.queries.LlmOps.lrTemperatureU]], fit once in batch beside
    * the model and published exactly like the other three LrModel
    * relations. When present, every score row also carries
    * `score_cal` = σ(u·z) dec8 (Guo et al. ICML'17 temperature
    * scaling, the SAME fold the gated `lr_temp` reliability read
    * applies), so downstream acceptance-sampling reads a calibrated
    * probability instead of the underconfident raw σ(z). One more
    * broadcast scalar per micro-batch; monotone, so `pred` and every
    * ranking are unchanged. */
  def runScoredIngest(spark: SparkSession, docDir: String,
                      model: graft.queries.LlmOps.LrModel, outDir: String,
                      checkpointDir: String,
                      temp: Option[DataFrame] = None): Unit = {
    runSrcKeyedIngest(spark, documentsFileSource(spark, docDir),
      outDir, checkpointDir, Seq("_src")) { withSrc =>
      val pd = graft.queries.LlmOps.lrFeatures(
        withSrc.select(col("doc_id"), col("text"), col("lang")))
      // Serving spine (review fix): EVERY arriving doc gets a score row —
      // a doc whose buckets are all absent from the published model (or
      // with no grams at all) scores at its standardized-zero logit
      // z = w0 − K instead of being silently dropped by the feature join.
      val spine = withSrc.select(col("doc_id"), col("lang"),
        (col("lang") === "en").cast("double").as("y"))
      val src = withSrc.select(col("doc_id"), col("_src"))
      val scored = graft.queries.LlmOps.lrScore(pd, model, Some(spine))
        .join(src, Seq("doc_id"))
      val calibrated = temp match {
        case Some(u) => scored.crossJoin(broadcast(u))
          .withColumn("score_cal", graft.core.Tables.dec8(
              lit(1.0) / (lit(1.0) + exp(-col("u") * col("z"))))
            .cast("double"))
          .drop("u")
        case None => scored
      }
      calibrated
        .select(Seq(col("doc_id"), col("lang"), col("z").as("score"),
          (col("z") > lit(0.0)).cast("int").as("pred"), col("_src")) ++
          temp.map(_ => col("score_cal")).toSeq: _*)
    }
  }

  /** The mutual-exclusion marker a live compaction holds on a store —
    * COMPACTOR-vs-COMPACTOR only since r14 (writers coordinate through
    * the version pointer instead; see the versioned-layout note below).
    * It is acquired through [[graft.core.Versioned]]'s create-if-absent:
    * an `O_EXCL` create on the local FS and `create(overwrite = false)`
    * elsewhere, which is atomic on HDFS. Hadoop's own local
    * `create(overwrite = false)` is NOT atomic (exists-then-open), and
    * neither is an object store's: there two passes can both "acquire"
    * unless the create becomes a conditional PUT (If-None-Match). */
  private def compactionSentinel(store: Path): Path =
    new Path(store.getParent, store.getName + ".compacting")

  // ---- Versioned streamed-store layout (r14, the r13 verdict's task 4) --
  //
  // A [[graft.core.Versioned]] table: `<store>/v=N/_src=…/…` version
  // directories plus the `_CURRENT` pointer. v=N is the LIVE append
  // target while the pointer names it, frozen forever once the pointer
  // moves on.
  //
  // Writers ([[runSrcKeyedIngest]], [[runNotifiedLoad]]) commit each
  // micro-batch through [[appendToCurrent]]. [[compactStore]] publishes a new
  // version from a snapshot of v and swaps the pointer; readers
  // ([[readStore]]) resolve-then-scan. The lost-append race the r12/r13
  // sentinel could only NARROW is closed by construction — see
  // [[compactStore]]'s proof sketch.

  private def storeTable(spark: SparkSession, storeDir: String): graft.core.Versioned =
    graft.core.Versioned(new Path(storeDir), spark.sparkContext.hadoopConfiguration)

  /** Resolve-then-scan read of a versioned streamed store; unversioned
    * directories (no `_CURRENT`) read as plain parquet so pre-versioning
    * layouts and ordinary sink outputs share the one reader. */
  def readStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDataDir(spark, storeDir))

  /** The CURRENT version's data directory (the store root itself for an
    * unversioned layout) — the path tests and maintenance tooling mutate. */
  def storeDataDir(spark: SparkSession, storeDir: String): String = {
    val t = storeTable(spark, storeDir)
    t.current.fold(storeDir)(t.vdir(_).toString)
  }

  // Test-only fault injection (StreamingSpec's race tests drive the
  // protocol's interesting instants deterministically; production
  // no-ops). Reset to no-op in a finally by every test that sets them.
  private[graft] var compactPreSwapHook: () => Unit = () => ()
  private[graft] var compactPreCarryHook: () => Unit = () => ()
  private[graft] var ingestPostAppendHook: () => Unit = () => ()

  /** Streamed-store COMPACTION (r12, the r11 verdict's task 4) — the
    * executable answer to the at-least-once residue every `_src`-keyed
    * store carries: a duplicate-DELIVERED file (same content, new name)
    * leaves the same logical row under two `_src` partitions, which the
    * search/read side must `.distinct()` away between maintenance passes.
    * This pass rewrites `storeDir` keeping, per `keyCols` tuple, the
    * single row from the lexicographically smallest `_src`. After a
    * compact, the read-side DISTINCT is provably redundant until the
    * next duplicate delivery (StreamingSpec law: post-compact row set
    * EQUALS the batch encode).
    *
    * LOST-APPEND RACE: CLOSED BY CONSTRUCTION (r14, the r13 verdict's
    * task 4 — upgrading the r12/r13 sentinel, which could only NARROW
    * it). The store lives behind a version pointer (layout note above):
    * this pass snapshots the current version v's file listing (L0),
    * compacts v's content into an immutable new version directory (the
    * next free slot, normally v+1), re-lists v (L1 — a change aborts with
    * the pointer untouched), swaps the pointer to the new version, then
    * re-lists v a FINAL time (L2): if anything landed between L1 and the
    * swap, the pointer is rolled back to v and the pass reports the race
    * — the appended rows are still in v, which is current again. Why no
    * committed append can be lost: a writer commits its micro-batch only
    * if its OWN post-append pointer read (which runs after its job commit
    * makes its files listable) still says v. If that read preceded the
    * swap, the files it committed are listable at L2 — either they were
    * already in the compaction's input (L0 saw them) or L2 ≠ L0 rolls the
    * pointer back; if it followed the swap, the writer threw and the
    * batch redelivers into the new version. Every interleaving ends with
    * the append in the served version or redelivered — never silently
    * dropped. Quiescence is therefore no longer a correctness contract,
    * just the way to avoid wasted (rolled-back or redelivered) work.
    *
    * The `.compacting` sentinel remains as COMPACTOR-vs-COMPACTOR mutual
    * exclusion: a second pass finding it refuses — live and crashed
    * passes are indistinguishable, so the operator confirms nothing is
    * live, removes the marker, and re-calls. Crash recovery is then
    * structural, never a data repair: a crash leaves either an orphan
    * `.compact-staging-*` directory or an orphan version ABOVE the
    * pointer (published data dir, pointer never moved) — both are swept
    * at the next pass's entry; the pointer always names a complete,
    * consistent version, so readers never observe a half-compacted mix.
    *
    * Content guard: the key-set must be CONTENT-CONVERGED — if any key
    * carries more than one distinct non-`_src` row (a duplicate-NAMED
    * delivery spanning a metadata/model republish: the ingest's
    * delete-then-append replay only ever reconciles a file with its OWN
    * `_src`, never two names of the same content), the pass refuses
    * rather than electing an arbitrary survivor. The check rides the
    * election window: each row's non-`_src` struct is compared null-safely
    * (`<=>`, Spark's ordering equality — null = null, NaN = NaN,
    * −0.0 = 0.0, exactly `distinct`'s rule) with its key's first row, and
    * the differing rows are counted by a `Dataset.observe` on the staging
    * write. A non-zero count deletes the staging directory and refuses
    * before the pointer moves, so a refused store is untouched. The
    * remedy is the maintenance order republish → full re-ingest (fresh
    * checkpoint) → compact.
    *
    * The store layout inside a version (partitioning by `partSpec`,
    * `_src` included) is preserved, so the ingest's delete-then-append
    * keying keeps working across compactions: a replay of file X still
    * deletes exactly its own `_src=md5(X)` partitions — now inside the
    * current version directory.
    *
    * Retention: the immediately-previous version is kept (grace for
    * readers that resolved it just before the swap — and a free O(1)
    * rollback target); versions older than it are dropped on the next
    * successful pass.
    *
    * Partial rewrite: a pass rewrites only the `_src` partitions it must
    * (`partSpec` must start with `_src`). One aggregate reads only the key
    * columns of v and finds the keys with more than one row, across
    * partitions or inside one; when there are any, a null-safe semi-join
    * names the partition directories holding their rows, the touched set.
    * The election window (with the convergence check) runs over the
    * touched partitions only; they hold every row of every repeated key,
    * so the result equals a pass over all of v. Every other partition goes
    * into the new version file by file ([[graft.core.Versioned.carry]]: a
    * hard link on `file:`), exactly as L0 listed it, and v's listing does
    * not change; a listed file gone before its carry fails the pass with
    * L1's message. Cost: a pass with no repeated key is the key-only
    * aggregate plus the carry. A pass with residue adds a scan of the key
    * columns and file names for the semi-join, then rewrites the touched
    * partitions, so it pays off when residue sits in few partitions. When
    * residue touches every partition (a full replay under new names) the
    * detection comes on top of the whole rewrite, and the pass costs more
    * than the old single window pass over v. A pass still publishes a new
    * version when nothing is touched. */
  def compactStore(spark: SparkSession, storeDir: String,
      keyCols: Seq[String], partSpec: Seq[String]): Unit = {
    require(partSpec.headOption.contains("_src"),
      s"compactStore: partSpec must start with _src, got ${partSpec.mkString(", ")}")
    val t = storeTable(spark, storeDir)
    val sentinel = compactionSentinel(t.root)
    // SENTINEL FIRST (review r13): a present sentinel means a pass is
    // live OR crashed, and this code cannot tell which — so it always
    // refuses; the operator confirms nothing is running, removes the
    // marker, and re-calls (the entry sweep below then clears any
    // crashed pass's structural leftovers before a new pass starts).
    if (t.fs.exists(sentinel))
      throw new java.io.IOException(
        s"compactStore: $sentinel present — another compaction is live " +
          "on this store, or a crashed pass left its marker; after " +
          "confirming nothing is running, remove it and re-call (the " +
          "entry sweep then clears any crashed pass's leftovers)")
    if (!t.fs.exists(t.root)) return
    // Two simultaneous passes that both passed the exists-check above
    // race here, and exactly one create-if-absent succeeds.
    if (!t.createIfAbsent(sentinel))
      throw new java.io.IOException(
        s"compactStore: $sentinel appeared concurrently — another " +
          "compaction just started on this store")
    try compactStoreLocked(spark, keyCols, partSpec, t)
    // Every non-crash exit path (success, guard refusal, or the rolled-
    // back race) leaves the pointer naming a complete consistent version,
    // so the marker always lifts here; only a process crash leaves it for
    // the remove-by-hand path above.
    finally t.fs.delete(sentinel, false)
  }

  /** A LEGACY unversioned store or STR-CDC snapshot (content at the root,
    * no pointer) migrates in place: its entries move to a side directory,
    * the side directory is claimed as the first version, and the pointer
    * publishes it. */
  private def migrateLegacyStore(t: graft.core.Versioned): Long = {
    val side = new Path(t.root.getParent, t.root.getName +
      s".mig-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    t.fs.mkdirs(side)
    t.fs.listStatus(t.root).foreach { k =>
      if (!t.fs.rename(k.getPath, new Path(side, k.getPath.getName)))
        throw new java.io.IOException(
          s"${t.root}: legacy migration cannot move ${k.getPath}")
    }
    val v = t.claim(side)
    t.swap(v)
    v
  }

  /** Entry sweep of a single-pointer writer at version `v`: a crashed
    * writer leaves either an orphan `staging` directory or an orphan
    * version ABOVE the pointer (data claimed, pointer never moved — or
    * rolled back after a detected race). Neither is ever served, so both
    * are structural garbage. */
  private def entrySweep(t: graft.core.Versioned, v: Long, staging: String): Unit =
    t.sweep(n => n.startsWith(staging) || graft.core.Versioned.versionOf(n).exists(_ > v))

  private def compactStoreLocked(spark: SparkSession,
      keyCols: Seq[String], partSpec: Seq[String],
      t: graft.core.Versioned): Unit = {
    val v = t.current.getOrElse(migrateLegacyStore(t))
    entrySweep(t, v, ".compact-staging-")
    val cur = t.vdir(v)
    // Listed on the session's file system, which hides `.crc` sidecars
    // (the raw one under `t` would list each file twice).
    val fs = t.root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): Set[(String, Long, Long)] =
      graft.core.Versioned.leafFiles(fs, cur)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    val before = listing()
    val curDf = spark.read.parquet(cur.toString)
    // The touched partitions: every _src directory holding a file with a
    // row of a key that has a second row anywhere in v, across partitions
    // or inside one. The aggregate reads only the key columns; the files
    // come from a null-safe semi-join on the (usually absent) repeated keys.
    // It is persisted, so the emptiness check and the semi-join share one
    // run of it.
    val dupKeys = curDf.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).select(keyCols.map(k => col(k).as(s"_dup_$k")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // A file's path below v, and its partition: the first directory on it.
    val base = fs.makeQualified(cur).toUri.getPath + "/"
    def below(p: Path): String = p.toUri.getPath.stripPrefix(base)
    def partition(name: String): String = name.takeWhile(_ != '/')
    val touched: Set[String] = try {
      if (dupKeys.isEmpty) Set.empty
      else curDf.select((keyCols.map(col) :+ col("_metadata.file_path").as("_file")): _*)
        .join(dupKeys, keyCols.map(k => col(k) <=> col(s"_dup_$k")).reduce(_ && _), "left_semi")
        .select(col("_file")).distinct().collect()
        .map(r => partition(below(new Path(new java.net.URI(r.getString(0)))))).toSet
    } finally dupKeys.unpersist()
    val staging = t.fresh(".compact-staging-")
    if (touched.isEmpty) t.fs.mkdirs(staging)
    else {
      // Convergence check, riding the election window: every key must
      // carry ONE distinct non-_src row, or the min-_src election would
      // pick an arbitrary (possibly stale) survivor among genuinely
      // different states. The observation sits below the _rn filter, so
      // it counts every row of the touched partitions, which hold every
      // row of every repeated key.
      val touchedDf = spark.read.schema(curDf.schema).option("basePath", cur.toString)
        .parquet(touched.toSeq.map(new Path(cur, _).toString): _*)
      val state = struct(touchedDf.columns.filter(_ != "_src").map(col).toIndexedSeq: _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(col("_src").asc)
      val obs = new org.apache.spark.sql.Observation()
      touchedDf
        .withColumn("_rn", row_number().over(w))
        .withColumn("_diverged", !(state <=> first(state).over(w)))
        .observe(obs, count_if(col("_diverged")).as("diverged"))
        .filter(col("_rn") === 1).drop("_rn", "_diverged")
        .write.partitionBy(partSpec: _*).mode("overwrite").parquet(staging.toString)
      val diverged = obs.get("diverged").asInstanceOf[Long]
      if (diverged > 0) {
        t.fs.delete(staging, true)
        throw new java.io.IOException(
          s"compactStore: $diverged row(s) carry state that differs from " +
            "their key's row in another _src partition (duplicate-named " +
            "delivery spanning a republish?) — re-ingest from a fresh " +
            "checkpoint before compacting")
      }
    }
    def changed() = new java.io.IOException(
      s"compactStore: $cur changed during compaction — the racing " +
        "append is preserved in the served version; rerun the pass")
    // Every other _src partition goes into the new version file by file,
    // exactly as L0 listed it, unread and unrewritten. A listed file gone
    // since L0 (a notified load rewrote its partition) is L1's race.
    val carried = before.toSeq.map(f => below(new Path(f._1))).filter { n =>
      val part = partition(n)
      part.startsWith("_src=") && !touched(part)
    }
    compactPreCarryHook()
    try t.carry(carried, cur, staging)
    catch {
      case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException =>
        t.fs.delete(staging, true)
        throw changed()
    }
    // L1, pre-swap re-check: anything landed since the snapshot → abort
    // with the pointer untouched (the racing append is in v, still
    // served; the next pass will include it).
    if (listing() != before) {
      t.fs.delete(staging, true)
      throw changed()
    }
    val next = t.claim(staging)
    compactPreSwapHook()
    t.swap(next)
    // L2, post-swap re-check — the instant the r12/r13 sentinel could
    // not cover: an append that landed between L1 and the swap has its
    // files listable here (a writer only COMMITS after its post-append
    // pointer read, which runs after its files are listable — if that
    // read preceded our swap, its files precede this listing). Roll the
    // pointer back: the append is intact in v, served again; the new
    // version becomes an orphan above the pointer, swept at the next
    // pass's entry.
    if (listing() != before) {
      t.swap(v)
      throw new java.io.IOException(
        s"compactStore: a concurrent append landed in $cur during the " +
          "pointer swap — rolled back; the append is intact in the " +
          "served version; rerun the pass")
    }
    // Success: drop versions older than the immediately-previous one
    // (kept as reader grace + rollback target — retention note above).
    t.dropBelow(v)
  }

  /** Documents-schema streaming source over a directory of parquet files —
    * incremental corpus ingestion: each arriving file is a micro-batch of
    * new documents. */
  def documentsFileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** STR-DOC: the document-cleaning projection as a stream — the LLM-corpus
    * twin of the [REF] ingestion flow: new document files land, every
    * micro-batch runs the SAME stateless quality/redaction projection the
    * batch pipeline uses (codegen'd WordEntropy, token metrics, PII
    * redaction, admit flag), and cleaned rows append to the corpus store.
    * Stateless ⇒ exactly-once per row under the checkpointed file source,
    * and batch/stream equivalence is structural (one code path — the same
    * function IS the batch projection; asserted in StreamingSpec). At
    * scale this is how a corpus grows: the expensive corpus-WIDE passes
    * (dedup, LM scoring) run as periodic batch jobs over the accumulated
    * store, while per-doc signals attach at ingest. */
  def docCleanProjection(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val ent = graft.functions.GraftFunctions.word_entropy(col("text"))
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\d{3}-\\d{3}-\\d{4}"
    val red = regexp_replace(
      regexp_replace(col("text"), emailPat, "<EMAIL>"), phonePat, "<PHONE>")
    docs.select(col("doc_id"), col("lang"), col("source"),
      size(words).as("n_tokens"), ent.as("entropy"),
      md5(red).as("redacted_md5"),
      (size(words) >= 20 && ent >= 2.5).as("admit"))
  }

  /** STR-EVAL: streaming classifier audit — EVAL-3's confusion cells as a
    * running aggregate over the document stream: every micro-batch of new
    * documents updates the (pred, gold) cell counts of the SHIPPED
    * language-ID rule (TXT-3's stopword threshold), so the serving
    * dashboard reads live accuracy/precision/recall without a batch job.
    * The cells are a MONOID (per-batch counts add), which is exactly why
    * cls_eval's SURVEY row declares this twin trivial: the stream's final
    * Complete-mode state must equal the batch aggregate bit-for-bit
    * (asserted in StreamingSpec, including the derived P/R/F1 finish).
    * Keyed by the 4 cells, so state is 4 rows forever — the cheapest
    * possible streaming model monitor at any volume. */
  def classifierAuditStream(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val score = size(filter(words, w => w.isin("a", "the"))).cast("double") /
      size(words).cast("double")
    docs.select(
        when(col("lang") === "en", 1L).otherwise(0L).as("gold"),
        when(score > 0.05, 1L).otherwise(0L).as("pred"))
      .groupBy(col("pred"), col("gold"))
      .agg(count(lit(1)).as("n"))
  }

  /** STR-HH: streaming heavy hitters — the SKT-2 Misra–Gries summary
    * maintained across micro-batches by the streaming-aggregation state
    * itself: a TypedImperativeAggregate's partial buffer IS the state
    * store entry, so each arriving document file folds its tokens into
    * the bounded ≤ k-pair summary (O(1) amortized per token) and the
    * Complete-mode sink serves the current top-N after every trigger —
    * heavy-hitter detection AT INGESTION, no batch job. State is ONE
    * serialized summary (single global group), bounded by k forever,
    * regardless of stream length or vocabulary; the MG merge rule is
    * tree-shape-free (GraftLaws), so however the engine folds batches
    * into state the deterministic ε bounds hold — which is exactly what
    * StreamingSpec gates (underestimate-within-n/(k+1) + coverage vs the
    * exact counts of everything streamed, same laws as the batch gate).
    * One code path: this function IS the batch freq_mg shape, so
    * batch/stream equivalence is structural (docCleanProjection's
    * discipline). */
  def heavyHitterStream(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(graft.functions.HeavyHitters.heavy_hitters(col("tok"), 1024, 10)
          .as("hh"),
        count(lit(1)).as("n_toks"))
      .select(explode(col("hh")).as("e"), col("n_toks"))
      .select(col("e.item").as("tok"), col("e.est").as("est"), col("n_toks"))

  /** STR-QSK: streaming percentile monitor — AGG-19's mergeable
    * Munro–Paterson quantile summary maintained by streaming-aggregation
    * state (STR-HH's discipline applied to RANK queries): each
    * micro-batch folds its values into the bounded O(k·log(n/k)) summary
    * per event_type, and the Complete-mode sink serves live p50/p99
    * after every trigger — the streaming percentile dashboard that a
    * batch AGG-9 recompute (impossible to re-aggregate) cannot give.
    * Values enter on the exact cents grid (WIN-10's integer discipline);
    * state per key is the summary, never the value stream, so it stays
    * index-metadata-sized at any volume. The merge rule is
    * tree-shape-free within the ε rank bound (GraftLaws), so however the
    * engine folds batches into state the bound holds — StreamingSpec
    * gates exactly that against exact percentiles of everything
    * streamed. */
  def quantileStream(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(graft.functions.QuantileSketch.quantile_sketch(
          floor(col("value") * 100 + 0.5).cast("long"), 0.5, 0.99).as("qs"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        element_at(col("qs"), 1).as("p50_cents"),
        element_at(col("qs"), 2).as("p99_cents"),
        col("n"))

  /** STR-W1: tumbling 10-minute window × event_type. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,4)")).cast("decimal(38,4)").as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** STR-W2: 10-minute window sliding every 5. */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  /** STR-W3: session window with 30-minute gap per user. */
  def sessionWindow(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,4)")).cast("decimal(38,4)").as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** STR-WM: 1-hour watermark — late events beyond it are dropped from
    * the tumbling aggregation (append mode emits only finalized windows). */
  def tumblingWithWatermark(events: DataFrame): DataFrame =
    tumblingKeepWindow(events.withWatermark("ts", "1 hour"))

  private def tumblingKeepWindow(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  /** STR-SJOIN: stream-STATIC enrichment join — attach a dimension row
    * (per-user segment derived from user_id here; a customer/catalog table
    * in production) to every event as it arrives. The static side needs no
    * watermark and holds no state: Spark re-plans the dim per micro-batch,
    * broadcasting it when small — the standard enrichment shape. At 100 TB
    * of DIM the broadcast stops fitting and the answer is a shuffle join
    * against a bucketed dim table (exchange-free on the dim side) or a
    * key-value store lookup inside mapGroupsWithState; the streaming side
    * of this op is unchanged either way. Left join: an event whose user is
    * missing from the dim must survive with a NULL segment (an enrichment
    * gate that silently DROPS unmatched facts corrupts downstream counts). */
  def dimEnrichJoin(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("segment"), col("value"))

  /** STR-JOIN: stream-stream inner join — correlate each click with the
    * same user's purchases in the following 10 minutes. Both sides carry
    * watermarks and the join condition bounds purchase_ts to a range of
    * click_ts, so the state store can evict a click once the watermark
    * passes its match window and reject late rows symmetrically — the
    * bounded-state equijoin shape streaming joins need at scale. The same
    * function applied to bounded frames is the batch twin (watermarks are
    * no-ops in batch); equivalence holds under time-ordered replay and is
    * asserted in StreamingSpec. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clickPurchase(clicks, purchases, "inner")

  /** The click⋈purchase body both joins share; only the join type differs. */
  private def clickPurchase(clicks: DataFrame, purchases: DataFrame,
                            joinType: String): DataFrame = {
    val l = clicks.filter(col("event_type") === "click")
      .withWatermark("ts", "1 hour")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val r = purchases.filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    l.join(r, col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
        joinType)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** LEFT OUTER stream-stream join — the conversion-funnel question
    * ("which clicks did NOT convert?") that an inner join cannot answer.
    * Same keys/watermarks/time bound as [[clickPurchaseJoin]]; the extra
    * semantics are watermark-driven: an unmatched click is emitted with
    * null purchase columns only once the global watermark passes the end
    * of its match window (click_ts + 10 min), because until then a
    * matching purchase could still arrive. Consequence at the tail: rows
    * younger than the final watermark stay in state unemitted — a stream
    * is never "done" the way a batch is, and the StreamingSpec test pins
    * exactly this boundary. */
  def clickPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clickPurchase(clicks, purchases, "left_outer")

  /** STR-DDP: streaming dedup on event_id within the watermark horizon.
    * The event-time column is part of the dedup key — the structured
    * streaming guide's bounded-state pattern: state for (event_id, ts) is
    * evicted once the watermark passes ts, so replayed/duplicated events
    * (which carry identical event times) collapse while state stays
    * bounded. Keying by event_id alone would keep state forever. */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicates("event_id", "ts")

  /** STR-DDP2: `dropDuplicatesWithinWatermark` — dedup on the BUSINESS key
    * alone (event_id, no ts in the key), tolerating duplicates whose event
    * times differ (retries/producer replays re-stamp the time, so the
    * (event_id, ts) key above would pass them through). State per key is
    * still evicted one watermark interval after first sight — the engine
    * guarantees collapse only for dups arriving within the watermark delay,
    * which is exactly the at-least-once-producer contract this op exists
    * for. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("event_id")

  // ---- STR-ST: arbitrary stateful processing ----

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)
  case class UserStat(user_id: Long, n_events: Long, total_value: Double,
                      last_ts: Timestamp)

  /** Per-user running counters via flatMapGroupsWithState — the custom-state
    * extension point (typed `GroupState`, processing-time timeout). Emits
    * the updated counter on every input batch. */
  def runningCounters(events: Dataset[Ev]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[Ev], state: GroupState[UserStat]) => {
          val next = countersStep(uid, state.getOption, rows)
          state.update(next)
          Iterator.single(next)
        })
  }

  /** The counters fold all three STR-ST counter operators share: `prev`
    * (zero when absent) plus one micro-batch's rows. */
  private def countersStep(uid: Long, prev: Option[UserStat],
                           rows: Iterator[Ev]): UserStat = {
    val p = prev.getOrElse(UserStat(uid, 0L, 0.0, new Timestamp(0)))
    val batch = rows.toSeq
    // last_ts is a RUNNING max: replay order across micro-batches is
    // arbitrary, so the current batch's max may precede the stored one.
    UserStat(uid, p.n_events + batch.size, p.total_value + batch.map(_.value).sum,
      (p.last_ts +: batch.map(_.ts)).max(Ordering.comparatorToOrdering(
        java.util.Comparator.naturalOrder[Timestamp]())))
  }

  /** A value slot's content, or None when it is empty. */
  private def valueOf[S](st: ValueState[S]): Option[S] =
    if (st.exists()) Some(st.get()) else None

  /** STR-ST3: [[runningCounters]] on the Spark 4 ARBITRARY-STATE API
    * (`transformWithState` + `StatefulProcessor`) — the forward path for
    * the flatMapGroupsWithState fleet: typed named state slots
    * (Value/List/Map) with per-slot TTL, timers decoupled from output
    * mode, and state-schema evolution — none of which the legacy API
    * offers. Semantics here are IDENTICAL to [[runningCounters]] by
    * construction (same fold over the same per-batch rows), and
    * StreamingSpec pins the drained results of both twins against each
    * other on the same replay. Requires the RocksDB state-store provider
    * (the API's own requirement — the right default at 100 TB state
    * anyway, per the RocksDB parity test). */
  class RunningCountersProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserStat] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[UserStat] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[UserStat]("counters",
        org.apache.spark.sql.Encoders.product[UserStat],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timer: org.apache.spark.sql.streaming.TimerValues): Iterator[UserStat] = {
      val next = countersStep(uid, valueOf(st), rows)
      st.update(next)
      Iterator.single(next)
    }
  }

  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** STR-ST5: per-user event-type histogram on MAP state — the third
    * state primitive of the Spark 4 API exercised (STR-ST3: ValueState,
    * STR-ST4: timers; here `MapState[String, Long]`): per key the state
    * is a type→count map updated point-wise — at 100 TB the point is that
    * `updateValue` touches ONE map entry in RocksDB per arriving type,
    * never rewriting the whole per-user blob the way a ValueState[case
    * class with a Map field] must. Emits every touched (user, type, n)
    * cell per micro-batch; the final cell set must equal the batch
    * `groupBy(user, type).count()` (StreamingSpec). */
  class TypeHistogramProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TypeCount] {
    @transient private var st: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("hist",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timer: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet[String]()
      rows.foreach { e =>
        val prev = if (st.containsKey(e.event_type)) st.getValue(e.event_type) else 0L
        st.updateValue(e.event_type, prev + 1L)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCount(uid, t, st.getValue(t)))
    }
  }

  /** The MapState histogram stream (STR-ST5). */
  def typeHistogramStream(events: Dataset[Ev]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeHistogramProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update)
  }

  /** The transformWithState twin of [[runningCounters]] (STR-ST3). */
  def runningCountersTws(events: Dataset[Ev]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCountersProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update)
  }

  /** STR-ST7: WARM-START state seeding — the migration story of the new
    * API ([[RunningCountersProcessor]] extended with
    * `StatefulProcessorWithInitialState`): a pipeline moving from nightly
    * batch to streaming seeds each key's state from the LAST BATCH
    * AGGREGATE (one `handleInitialState` call per seed key before any
    * input), then streams only the new data — no replay of history, no
    * cold-start window where dashboards read partial counts. The legacy
    * API has no equivalent (flatMapGroupsWithState cannot take an initial
    * state Dataset on the streaming path without a manual union hack).
    * StreamingSpec pins: seed(batch half) + stream(rest) ≡ batch(all). */
  class SeededCountersProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, Ev, UserStat, UserStat] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[UserStat] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[UserStat]("counters",
        org.apache.spark.sql.Encoders.product[UserStat],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInitialState(uid: Long, seed: UserStat,
        timer: org.apache.spark.sql.streaming.TimerValues): Unit =
      st.update(seed)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timer: org.apache.spark.sql.streaming.TimerValues): Iterator[UserStat] = {
      val next = countersStep(uid, valueOf(st), rows)
      st.update(next)
      Iterator.single(next)
    }
  }

  /** The warm-started counters stream (STR-ST7): `seed` is the batch
    * per-user aggregate the stream continues from. */
  def runningCountersSeeded(events: Dataset[Ev],
                            seed: Dataset[UserStat]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SeededCountersProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update,
        seed.groupByKey(_.user_id))
  }

  /** An event time in µs since the epoch, exact before 1970 too: a
    * Timestamp's `getTime` is floored ms (its nanos are never negative), and
    * the nanos carry the µs below the ms. */
  private[graft] def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** A user's micro-batch rows in (µs, event_id) order — the fold order of
    * every µs-exact per-user operator and of their batch twins. */
  private[graft] def inTimeOrder(rows: Iterator[Ev]): Seq[Ev] =
    rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))

  /** The per-user fold of the legacy-API operators that run in µs order
    * (STR-EWMA, STR-ATTR, STR-DEB, STR-RATE, STR-BAL): `fold` gets a user,
    * its stored state and the micro-batch's rows [[inTimeOrder]], and
    * returns the state to store and the rows to emit. Across batches the
    * time-ordered replay contract applies (STR-EWMA's). */
  private def foldInTimeOrder[S: Encoder, O: Encoder](events: Dataset[Ev])(
      fold: (Long, Option[S], Seq[Ev]) => (Option[S], Seq[O])): Dataset[O] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[Ev], state: GroupState[S]) => {
          val (next, out) = fold(uid, state.getOption, inTimeOrder(rows))
          next.foreach(state.update)
          out.iterator
        })
  }

  case class CtxEv(t: Long, i: Long, y: String)
  case class CtxOut(event_id: Long, user_id: Long, ts: Timestamp,
                    ctx_n: Int, ctx: String)

  /** STR-ST6: online pre-conversion context extraction on LIST state —
    * CTX-1's streaming twin and the fourth state primitive exercised
    * (STR-ST3: ValueState, ST4: timers, ST5: MapState; here
    * `ListState[CtxEv]`): per user the state is the trailing-30-min event
    * buffer, pruned on every arrival (state ∝ the 30-min activity burst,
    * never history — the same bound the batch RANGE frame enjoys), and
    * each purchase emits its ordered context ON ARRIVAL — the streaming
    * form of turning an event stream into (context → outcome) training
    * examples without a nightly window job. Same semantics as the batch
    * twin by construction: context = events with t ∈ [tsu−30min, tsu)
    * (exclusive of the purchase instant), struct-sorted; purchases are
    * context for later purchases. Time-ordered replay contract
    * (STR-EWMA's); equivalence with the gated `purchase_context` pinned
    * in StreamingSpec. */
  class PurchaseContextProcessor(windowUs: Long = 1800L * 1000000L)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, CtxOut] {
    @transient private var st: org.apache.spark.sql.streaming.ListState[CtxEv] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getListState[CtxEv]("ctx",
        org.apache.spark.sql.Encoders.product[CtxEv],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timer: org.apache.spark.sql.streaming.TimerValues): Iterator[CtxOut] = {
      val sorted = inTimeOrder(rows)
      var buf = if (st.exists()) st.get().toVector else Vector.empty[CtxEv]
      val out = scala.collection.mutable.ArrayBuffer[CtxOut]()
      sorted.foreach { e =>
        val tsu = micros(e.ts)
        buf = buf.filter(_.t >= tsu - windowUs) // prune beyond the window
        if (e.event_type == "purchase") {
          val ctx = buf.filter(_.t < tsu).sortBy(c => (c.t, c.i))
          out += CtxOut(e.event_id, uid, e.ts, ctx.size,
            ctx.map(c => s"${c.t}:${c.i}:${c.y}").mkString("|"))
        }
        buf = buf :+ CtxEv(tsu, e.event_id, e.event_type)
      }
      st.put(buf.toArray)
      out.iterator
    }
  }

  /** The ListState context stream (STR-ST6). */
  def purchaseContextStream(events: Dataset[Ev]): Dataset[CtxOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new PurchaseContextProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append)
  }

  case class EwmaSt(s: Double)
  case class EwmaOut(user_id: Long, event_id: Long, ewma: Double)

  /** STR-EWMA: the UNTRUNCATED sequential EWMA recurrence
    * (s₁ = v₁; sᵢ = α·vᵢ + (1−α)·sᵢ₋₁) as per-user ordered state — the
    * streaming twin the batch TS-EWMA row declares: the batch side
    * truncates at 18 lags precisely because the full recurrence needs
    * per-key sequential state, which is THIS extension point's native
    * shape (state = one double per user, bounded forever).
    *
    * Within a micro-batch, rows are folded in (ts, event_id) order;
    * ACROSS batches correctness requires time-ordered replay (watermark-
    * monotone slices), the same contract the STR-ST2 equivalence test
    * replays under — an out-of-order late event would need the batch
    * operator's reordering buffer, which is what the truncated batch twin
    * is for. Emits every event's smoothed value once (Update mode). */
  def ewmaStream(events: Dataset[Ev], alpha: Double = 0.3): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    foldInTimeOrder[EwmaSt, EwmaOut](events) { (uid, prev, sorted) =>
      var s = prev.map(_.s)
      val out = sorted.map { e =>
        val next = s.fold(e.value)(p => alpha * e.value + (1 - alpha) * p)
        s = Some(next)
        EwmaOut(uid, e.event_id, next)
      }
      (s.map(EwmaSt(_)), out)
    }
  }

  case class AttrSt(clickId: Long, clickTsu: Long)
  case class AttrOut(event_id: Long, user_id: Long, ts: Timestamp,
                     click_id: Option[Long], attributed: Boolean)

  /** STR-ATTR: streaming last-touch attribution — ATTR-1's online twin:
    * state = the user's most recent click (one (id, tsu) pair per user,
    * bounded forever); each purchase is attributed ON ARRIVAL against
    * that state with the same µs-exact 1-day lookback. Within a batch
    * rows fold in (ts, event_id) order; across batches the time-ordered
    * replay contract applies (STR-EWMA's). This is the shape that turns
    * attribution from a nightly window job into a live enrichment. */
  def attributionStream(events: Dataset[Ev],
      horizonUs: Long = 86400L * 1000000L): Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    foldInTimeOrder[AttrSt, AttrOut](events) { (uid, prev, sorted) =>
      var st = prev
      val out = sorted.flatMap { e =>
        val tsu = micros(e.ts)
        if (e.event_type == "click") st = Some(AttrSt(e.event_id, tsu))
        Option.when(e.event_type == "purchase") {
          val hit = st.filter(s => tsu - s.clickTsu <= horizonUs)
          AttrOut(e.event_id, uid, e.ts, hit.map(_.clickId), hit.nonEmpty)
        }
      }
      (st, out)
    }
  }

  case class DebSt(lastKept: Long)
  case class DebOut(event_id: Long, user_id: Long, kept: Boolean)

  /** STR-DEB: streaming debounce — DEB-1's online twin, and the natural
    * home of the semantics (a throttle WANTS to run at ingestion): emit
    * each event's keep/drop verdict on arrival, measured against the last
    * KEPT event — state is ONE Long per user, forever. The batch side
    * needed the typed sequential escape hatch for exactly this recurrence;
    * here the recurrence IS the extension point's native shape. Same
    * µs-order/time-ordered-replay contract as STR-EWMA; exact per-event
    * equality vs the batch fold pinned in StreamingSpec. */
  def debounceStream(events: Dataset[Ev],
      gapUs: Long = 14400L * 1000000L): Dataset[DebOut] = {
    import events.sparkSession.implicits._
    foldInTimeOrder[DebSt, DebOut](events) { (uid, prev, sorted) =>
      var lastKept = prev.map(_.lastKept)
      val out = sorted.map { e =>
        val t = micros(e.ts)
        val keep = lastKept.forall(t - _ > gapUs)
        if (keep) lastKept = Some(t)
        DebOut(e.event_id, uid, keep)
      }
      (lastKept.map(DebSt(_)), out)
    }
  }

  case class RateSt(times: Array[Long])
  case class RateOut(event_id: Long, user_id: Long, burst: Long)

  /** STR-RATE: online sliding-window burst counter — BOT-1's streaming
    * twin: each event is annotated ON ARRIVAL with the user's event count
    * in the trailing 24 h (the statistic a live rate limiter thresholds),
    * so abuse is visible at ingestion instead of in the nightly audit.
    * State per user = the event times still inside the window (sorted,
    * appended in order, evicted from the front as the window slides) —
    * bounded by the 24 h activity burst exactly like the batch RANGE
    * frame's processor state, NOT by history. Within a batch rows fold in
    * (ts, event_id) µs order; across batches the time-ordered replay
    * contract applies (STR-EWMA's). Equivalence vs the batch range-frame
    * count is exact per event (StreamingSpec). */
  def burstStream(events: Dataset[Ev],
      windowUs: Long = 86400L * 1000000L): Dataset[RateOut] = {
    import events.sparkSession.implicits._
    foldInTimeOrder[RateSt, RateOut](events) { (uid, prev, sorted) =>
      var kept = prev.map(_.times.toVector).getOrElse(Vector.empty)
      val out = sorted.map { e =>
        val t = micros(e.ts)
        kept = (kept :+ t).dropWhile(_ < t - windowUs)
        RateOut(e.event_id, uid, kept.size.toLong)
      }
      (Some(RateSt(kept.toArray)), out)
    }
  }

  case class BalSt(units: Long)
  case class BalOut(event_id: Long, user_id: Long, flow: String, balance: String)

  /** STR-BAL: streaming floor-clamped balance — WIN-8's online twin, and
    * the cross-certification that makes the pair interesting: the batch
    * side computes the closed-form REFLECTION IDENTITY (two windows), this
    * side runs the literal recurrence b := max(0, b + x) as per-user state
    * — StreamingSpec proving them equal under time-ordered replay certifies
    * the identity AND the state discipline in one test. State = one Long
    * (balance in exact 10⁻⁴ units — the decimal-scale-4 integer twin of
    * the batch side's DECIMAL(38,4), no float drift ever), bounded forever.
    * Within a batch rows fold in (ts, event_id) µs order; across batches
    * the time-ordered replay contract applies (STR-EWMA's). */
  def balanceStream(events: Dataset[Ev]): Dataset[BalOut] = {
    import events.sparkSession.implicits._
    def u4(v: Double): Long =
      (BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000).toLongExact
    foldInTimeOrder[BalSt, BalOut](events) { (uid, prev, sorted) =>
      var b = prev.map(_.units).getOrElse(0L)
      val out = sorted.map { e =>
        val flow = e.event_type match {
          case "purchase" | "signup" => u4(e.value)
          case "click" | "error"     => -u4(e.value)
          case _                     => 0L
        }
        b = math.max(0L, b + flow)
        BalOut(e.event_id, uid,
          java.math.BigDecimal.valueOf(flow, 4).toPlainString,
          java.math.BigDecimal.valueOf(b, 4).toPlainString)
      }
      (Some(BalSt(b)), out)
    }
  }

  case class SessSt(start: Timestamp, end: Timestamp, n: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        last_ts: Timestamp, n_events: Long)

  /** STR-ST2: event-time-timeout sessionizer — the custom-state session
    * close `session_window` cannot express (per-session side effects,
    * custom merge rules, enrichment on close all hang off this shape).
    * Per user: events extend the open session while within the 30-min
    * gap; a farther event closes-and-emits it and opens a new one; and
    * the WATERMARK closes the last session via
    * `GroupState.setTimeoutTimestamp(end + gap)` — sessions are emitted
    * exactly when no earlier event can still arrive, which is the only
    * correct close signal under late data (a processing-time timeout
    * fires on wall-clock luck). State per user = one (start, end, n)
    * triple, bounded regardless of volume; timeout eviction bounds total
    * state by ACTIVE users. Append mode: each session emitted once, when
    * closed. Equivalence with the batch lag-gap/session_window semantics
    * under time-ordered replay is pinned in StreamingSpec (a sentinel
    * batch advances the watermark so the final sessions flush).
    *
    * Boundary convention, stated so the twins' domains are explicit: a
    * gap of EXACTLY `gapMinutes` EXTENDS the session here (<=, matching
    * the batch lag-gap queries' `> 1800s` new-session test), while
    * Spark's `session_window` opens a new session at exactly the gap;
    * and this fold compares at millisecond resolution where the lag-gap
    * oracle compares whole seconds. Neither divergence is reachable on
    * the event corpus (second-granularity timestamps, no exact-gap
    * pairs), and the batch-equivalence pins hold on that domain. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[Ev], state: GroupState[SessSt]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.start, s.end, s.n))
          } else {
            val (cur, closed) = sessionStep(uid, state.getOption, rows, gapMs)
            cur.foreach { s =>
              state.update(s)
              // Close when the watermark proves no in-gap event can arrive.
              state.setTimeoutTimestamp(s.end.getTime + gapMs)
            }
            closed.iterator
          }
        })
  }

  /** The session fold [[sessionize]] and [[SessionProcessor]] share: a
    * micro-batch's events extend the `open` session while within `gapMs`
    * of its end, or close it and open a new one. Returns the session left
    * open and the closed ones. */
  private def sessionStep(uid: Long, open: Option[SessSt], rows: Iterator[Ev],
                          gapMs: Long): (Option[SessSt], Seq[SessionOut]) = {
    val closed = Seq.newBuilder[SessionOut]
    // Apply the batch's events in event-time order; under the
    // time-ordered replay contract cross-batch order is monotone.
    val cur = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foldLeft(open) {
      case (Some(s), e) if e.ts.getTime <= s.end.getTime + gapMs =>
        Some(SessSt(s.start, if (e.ts.getTime > s.end.getTime) e.ts else s.end, s.n + 1))
      case (prev, e) =>
        prev.foreach(s => closed += SessionOut(uid, s.start, s.end, s.n))
        Some(SessSt(e.ts, e.ts, 1L))
    }
    (cur, closed.result())
  }

  /** STR-ST4: [[sessionize]] on the Spark 4 arbitrary-state API with real
    * EVENT-TIME TIMERS — where STR-ST3 ports a timerless fold, this twin
    * exercises the part of the new API the legacy one only approximates:
    * `GroupStateTimeout.EventTimeTimeout` allows ONE implicit timeout per
    * key, silently rearmed by `setTimeoutTimestamp`; the new API has an
    * explicit timer REGISTRY (`registerTimer`/`deleteTimer`/`listTimers`)
    * decoupled from state, so the idle-gap close is a first-class timer
    * the processor re-arms as the session extends. Session semantics are
    * byte-identical to [[sessionize]] (same fold, same close rules);
    * StreamingSpec pins the two twins' drained outputs equal on the same
    * watermark-advancing replay. */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, SessionOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[SessSt] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessSt]("session",
        org.apache.spark.sql.Encoders.product[SessSt],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timer: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val prev = valueOf(st)
      val prevTimer = prev.map(s => s.end.getTime + gapMs)
      val (cur, closed) = sessionStep(uid, prev, rows, gapMs)
      cur.foreach { s =>
        st.update(s)
        // Re-arm the idle-gap timer only when the session end moved — the
        // explicit registry makes the rearm visible (and deletable),
        // unlike the legacy implicit timeout slot.
        val t = s.end.getTime + gapMs
        if (!prevTimer.contains(t)) {
          prevTimer.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(t)
        }
      }
      closed.iterator
    }
    override def handleExpiredTimer(uid: Long,
        timer: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      if (st.exists()) {
        val s = st.get()
        // Stale-timer guard: only a timer at-or-past the CURRENT session's
        // idle deadline closes it (deleteTimer above makes stale firings
        // unreachable in this processor, but the guard keeps the close
        // rule locally provable).
        if (expired.getExpiryTimeInMs() >= s.end.getTime + gapMs) {
          st.clear()
          Iterator.single(SessionOut(uid, s.start, s.end, s.n))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  /** The transformWithState twin of [[sessionize]] (STR-ST4). */
  def sessionizeTws(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes * 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append)
  }

  case class FunnelSt(user_id: Long, first_view: Option[Timestamp],
                      first_click: Option[Timestamp],
                      first_purchase: Option[Timestamp], stage: Int)

  /** STR-FNL: incremental conversion funnel (streaming twin of the batch
    * `funnel` query) — per-user view→click→purchase state advanced by each
    * micro-batch, emitted on update. The state machine is the batch
    * query's qualification rule (a click counts only once a view is seen,
    * a purchase only once a qualifying click is): rows are applied in
    * (ts, event_id) order WITHIN a batch, and state is monotone (each slot
    * is set once, stage only grows), so per-key state is three timestamps
    * regardless of event volume — the bounded-state funnel a 100 TB stream
    * needs. Cross-batch late data is the declared limit, as with
    * [[runningCounters]]: an event older than an already-filled slot
    * cannot retroactively rewrite it; equivalence with the batch funnel
    * holds for in-order (event-time-sliced) replay, which the
    * StreamingSpec test pins. */
  def funnelState(events: Dataset[Ev]): Dataset[FunnelSt] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[Ev], state: GroupState[FunnelSt]) => {
          val prev = state.getOption.getOrElse(FunnelSt(uid, None, None, None, 0))
          var (fv, fc, fp) = (prev.first_view, prev.first_click, prev.first_purchase)
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            e.event_type match {
              case "view" if fv.isEmpty => fv = Some(e.ts)
              case "click" if fv.isDefined && fc.isEmpty => fc = Some(e.ts)
              case "purchase" if fc.isDefined && fp.isEmpty => fp = Some(e.ts)
              case _ => ()
            }
          }
          val next = FunnelSt(uid, fv, fc, fp, fv.size + fc.size + fp.size)
          state.update(next)
          Iterator.single(next)
        })
  }

  /** STR-SNK: run any of the above to a parquet sink with checkpointing
    * (exactly-once file sink), draining all available input. Returns the
    * sink directory. */
  def runToParquetSink(df: DataFrame, outDir: String, checkpointDir: String): Unit =
    drain(df.writeStream.outputMode(OutputMode.Append).format("parquet")
      .option("path", outDir), Some(checkpointDir))

  /** STR-WH: stream → warehouse loading via foreachBatch — the [REF]
    * Redshift-load flow (`Untitled Diagram.drawio:79-87`) as a stream.
    * JDBC (and any non-streaming writer) attaches through foreachBatch,
    * which hands each micro-batch to the [[graft.sources.Ingest.WarehouseWriter]].
    * Delivery is at-least-once per micro-batch (the checkpoint tracks
    * batch offsets; a retried batch re-runs the writer), so warehouse
    * targets want an idempotent load keyed on batchId — the parquet impl
    * here appends, and the test asserts a clean rerun adds nothing. */
  def runToWarehouse(df: DataFrame, writer: graft.sources.Ingest.WarehouseWriter,
                     checkpointDir: String): Unit =
    drainBatches(df, checkpointDir) { (batch, _) =>
      writer.write(batch, org.apache.spark.sql.SaveMode.Append)
    }

  /** STR-QR: streaming clean/quarantine split — the [REF] bad-record
    * policy as a stream: each arriving partner file parses PERMISSIVE,
    * clean rows append to the warehouse, malformed raw lines append to a
    * quarantine store for repair/replay — one rotten file never stops the
    * feed, and nothing is silently dropped. The batch is cached before
    * the split: the two filters otherwise re-parse the file, and Spark
    * only materializes the corrupt-record column through a cache. */
  def runQuarantineSplit(parsed: DataFrame, corruptCol: String,
                         cleanDir: String, quarantineDir: String,
                         checkpointDir: String): Unit =
    drainBatches(parsed, checkpointDir) { (batch, batchId) =>
      // Batch-keyed DYNAMIC partition overwrite, not a plain append: a
      // writer crash between the clean append and the checkpoint commit
      // replays this batch, and overwrite of ONLY its batch_id=N
      // partition converges to one copy (the file-sink analog of
      // runToJdbcWarehouse's delete-then-insert). Dynamic overwrite is
      // a PER-WRITE option (runNotifiedLoad's rule): mutating the
      // session conf here would race any concurrent writer's set/
      // restore, and a lost race downgrades these overwrites to STATIC
      // — which deletes EVERY prior batch's partition.
      val c = batch.withColumn("batch_id", lit(batchId)).cache()
      try {
        c.filter(col(corruptCol).isNull).drop(corruptCol)
          .write.partitionBy("batch_id").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(cleanDir)
        c.filter(col(corruptCol).isNotNull).select(col(corruptCol), col("batch_id"))
          .write.partitionBy("batch_id").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(quarantineDir)
      } finally c.unpersist()
    }

  /** STR-WH2: stream → JDBC warehouse with an IDEMPOTENT batch-keyed load —
    * the missing half of the at-least-once contract in [[runToWarehouse]]'s
    * scaladoc, made concrete: every row lands with its `batch_id`, and the
    * loader DELETEs that batch's rows before re-inserting. A redelivered
    * micro-batch (writer crash after partial insert, checkpoint loss, full
    * source replay) then converges to exactly one copy — the
    * delete-then-insert upsert every warehouse loader (Redshift COPY
    * staging, JDBC) implements; tested against embedded Derby including a
    * full re-replay from a FRESH checkpoint. */
  def runToJdbcWarehouse(df: DataFrame, target: graft.sources.Ingest.JdbcTarget,
                         checkpointDir: String): Unit =
    drainBatches(df, checkpointDir) { (batch, batchId) =>
      // Scrub any prior (possibly partial) copy of this batch. First-ever
      // batch: the table doesn't exist yet — the write below creates it.
      val conn = java.sql.DriverManager.getConnection(target.url)
      try {
        // Existence check via metadata, NOT a swallowed SQLException: a
        // transient DELETE failure (lock timeout, dropped connection)
        // must abort the batch — silently proceeding to the append
        // would double-load the rows the delete was there to scrub.
        // Probe every identifier-folding convention: Derby stores the
        // unquoted name UPPER-folded, PostgreSQL lower-folded, DuckDB
        // as-typed. Probing only the upper-case form silently misses the
        // table on lower-folding engines — exists=false skips the DELETE
        // scrub and a redelivered batch double-loads.
        val exists = Seq(target.table.toUpperCase, target.table.toLowerCase,
            target.table).distinct.exists { name =>
          val rs = conn.getMetaData.getTables(null, null, name, Array("TABLE"))
          try rs.next() finally rs.close()
        }
        // Spark's JDBC writer creates COLUMNS as quoted (case-sensitive)
        // identifiers but the table unquoted — mirror that here, or the
        // predicate resolves to a non-existent BATCH_ID.
        if (exists) conn.createStatement()
          .executeUpdate(s"""DELETE FROM ${target.table} WHERE "batch_id" = $batchId""")
      } finally conn.close()
      new graft.sources.Ingest.JdbcWarehouseWriter(target)
        .write(batch.withColumn("batch_id", lit(batchId)),
          org.apache.spark.sql.SaveMode.Append)
    }

  /** STR-CDC: streaming changelog APPLY — CDC-2 as incremental snapshot
    * maintenance. Each arriving changelog micro-batch merges into a keyed
    * parquet snapshot through foreachBatch read-modify-write: latest op
    * per key WITHIN the batch wins (seq DESC — arriving files may carry
    * several ops for a key), then one full-outer apply against the
    * current snapshot (D removes, I/U replace, untouched keys carry
    * over). Batches apply in arrival order (foreachBatch serializes), so
    * cross-batch conflicts resolve later-batch-wins — the semantics a
    * transaction-ordered changelog consumer expects, and per-batch
    * key-uniqueness makes sequential apply ≡ the batch query's global
    * latest-op-wins (pinned in StreamingSpec against `cdc_apply`).
    * State is the SNAPSHOT ITSELF, not a state store: the materialized
    * view lives on disk, so recovery = checkpointed source offsets +
    * the last committed snapshot, and snapshot size is bounded by keys,
    * not stream length.
    *
    * The snapshot is a [[graft.core.Versioned]] table, the `_src` store's
    * `v=N` + `_CURRENT` layout: each batch writes the merge into a staging
    * directory while the current version is read, claims it as the next
    * version and commits by the pointer swap, on any Hadoop file system.
    * Retention keeps the previous version (grace for a reader that
    * resolved it just before the swap) and drops older ones. A crash
    * leaves an orphan staging directory or a claimed version above the
    * pointer; the next batch's entry sweep deletes both, and the pointer
    * always names the last committed snapshot. One writer per checkpoint,
    * so there is no listing re-check or sentinel: a redelivered batch
    * re-applies idempotently (latest op per key). A cold start bootstraps
    * an empty `v=1`; a root holding a plain parquet snapshot and no
    * pointer migrates into the first version. A root that is absent while
    * `<root>.prev` exists is the crash state of the rename-aside swap this
    * layout replaced: the batch refuses rather than restart from an empty
    * view. Readers resolve the pointer ([[readStore]]). At warehouse scale
    * the same merge runs as MERGE INTO / the staged DELETE+INSERT of
    * [[graft.sources.Ingest.JdbcUpsertWriter]], which STR-WH2 proves. */
  def runChangelogApply(changelog: DataFrame, snapshotDir: String,
                        checkpointDir: String): Unit =
    drainBatches(changelog, checkpointDir) { (batch, _) =>
      if (!batch.isEmpty) {
        val s = batch.sparkSession
        val t = storeTable(s, snapshotDir)
        val v = t.current.getOrElse {
          val parked = new Path(t.root.getParent, t.root.getName + ".prev")
          if (t.names.nonEmpty) migrateLegacyStore(t)
          else if (t.fs.exists(parked))
            throw new java.io.IOException(
              s"STR-CDC: $snapshotDir is absent but $parked holds a snapshot " +
                "parked by a crashed rename-aside swap — move it back to " +
                s"$snapshotDir and rerun (an empty restart would drop its keys)")
          else t.bootstrap()
        }
        entrySweep(t, v, ".staging-")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("seq").desc)
        val latest = batch
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("k").as("ck"), col("op"),
            col("price").as("cp"), col("status").as("cst"))
        val snapSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("price",
            org.apache.spark.sql.types.DecimalType(38, 4)),
          org.apache.spark.sql.types.StructField("status",
            org.apache.spark.sql.types.StringType)))
        // Always read with the EXPLICIT schema: a cold start's `v=1` and a
        // legal all-delete batch's version hold no rows, and schema
        // inference on them throws on every subsequent batch — bricking
        // the pipeline right after the one batch that emptied the view.
        val cur = s.read.schema(snapSchema).parquet(t.vdir(v).toString)
        val merged = cur.join(latest, col("k") === col("ck"), "full_outer")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(coalesce(col("k"), col("ck")).as("k"),
            coalesce(col("cp"), col("price")).cast(
              org.apache.spark.sql.types.DecimalType(38, 4)).as("price"),
            coalesce(col("cst"), col("status")).as("status"))
        val staging = t.fresh(".staging-")
        merged.write.parquet(staging.toString)
        t.swap(t.claim(staging))
        t.dropBelow(v)
      }
    }

  /** STR-SNAP: streaming atomic versioned publish — STR-CDC's pointer
    * commit with the full [[graft.core.Snapshot]] store on top. Each
    * non-empty epoch of a Complete-mode aggregate is published as the
    * next immutable `v=N` version; concurrent readers resolve `_CURRENT`
    * and can never observe a half-written epoch, and every historical
    * epoch stays time-travel-readable (the audit trail STR-CDC's
    * keep-previous retention discards). Exactly-once at the sink:
    * foreachBatch is at-least-once (a crash between the publish and the
    * checkpoint commit redelivers the epoch), so each version's `_META` carries the
    * epoch id that produced it and a redelivered epoch ≤ the current
    * version's is SKIPPED — the guard state lives in the store itself,
    * not in sink memory, so it survives restarts by construction.
    * 100 TB: Complete mode re-emits the whole aggregate per epoch, which
    * is right for domain-sized aggregates (this shape); data-sized
    * results switch to Update/Append + partition-level publish — the
    * pointer-swap commit is unchanged. */
  def runVersionedPublish(agg: DataFrame, root: String,
                          checkpointDir: String): Unit =
    drainBatches(agg, checkpointDir, OutputMode.Complete) { (batch, batchId) =>
      publishEpochGuarded(batch, root, batchId); ()
    }

  /** STR-DRIFT: streaming distribution-drift monitor — DRIFT-1's binned
    * divergence evaluated per epoch against a PINNED reference profile
    * (the training-serving-skew watchdog: reference = the training
    * corpus's value distribution, stream = serving traffic; the monitor
    * is the alarm that triggers DRIFT-2's exact test and a retrain).
    * The reference is binned ONCE (10 equal-width bins from ITS min/max
    * — drift_psi's width-0 guard; the bin design must come from the
    * reference, never the stream, or drift moves the yardstick) into a
    * frequency vector that rides into every epoch. The stream side is a
    * Complete-mode per-bin count — cumulative by construction — and each
    * epoch appends (epoch, n_seen, drift, alarm) to a parquet log: the
    * time series a monitoring dashboard reads. Out-of-reference-range
    * values clamp to the edge bins (the serving-skew signal itself).
    * The per-epoch divergence is computed on the ≤11-row collected bin
    * vector — config-bounded driver work, the GlobalRank-offsets class
    * of bounded action. Identical distributions read exactly 0.0000
    * (the (p−q)²/(p+q) terms vanish), pinned in StreamingSpec along
    * with a shifted-stream alarm case. */
  def runDriftMonitor(values: DataFrame, reference: DataFrame,
                      logDir: String, checkpointDir: String,
                      alarmAt: Double = 0.25): Unit = {
    // One job computes the profile bounds AND size; fail with an
    // actionable message on an empty/all-null reference instead of an
    // NPE out of getDouble — a monitor with no training profile cannot
    // define bins.
    val b = reference.agg(min(col("value")).cast("double").as("vmin"),
      max(col("value")).cast("double").as("vmax"),
      count(col("value")).as("n")).head()
    require(b.getLong(2) > 0 && !b.isNullAt(0),
      "drift monitor needs a non-empty reference profile with non-null values")
    val (vmin, vmax) = (b.getDouble(0), b.getDouble(1))
    val width = if (vmax == vmin) 1.0 else (vmax - vmin) / 10.0
    def binOf(c: Column): Column =
      least(greatest(floor((c.cast("double") - lit(vmin)) / lit(width)), lit(0.0)),
        lit(9.0)).cast("int")
    val refN = reference.count().toDouble
    val refFreq = reference.groupBy(binOf(col("value")).as("bin"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1) / refN).toMap
    val counts = values.groupBy(binOf(col("value")).as("bin"))
      .agg(count(lit(1)).as("n"))
    drainBatches(counts, checkpointDir, OutputMode.Complete) { (batch, epoch) =>
      val rows = batch.collect().map(r => r.getInt(0) -> r.getLong(1))
      val n = rows.map(_._2).sum
      if (n > 0) {
        val drift = (0 to 9).map { bin =>
          val p = refFreq.getOrElse(bin, 0.0)
          val qf = rows.toMap.getOrElse(bin, 0L).toDouble / n
          if (p + qf == 0.0) 0.0 else (p - qf) * (p - qf) / (p + qf)
        }.sum
        import batch.sparkSession.implicits._
        Seq((epoch, n, drift, drift > alarmAt))
          .toDF("epoch", "n_seen", "drift", "alarm")
          .write.mode("append").parquet(logDir)
      }
      ()
    }
  }

  /** The STR-SNAP epoch commit, factored for direct redelivery testing:
    * publish `batch` as the next version stamped with `epoch`, unless the
    * store's current version was already produced by this or a later
    * epoch (the at-least-once replay case). Returns the published version
    * id, or None when the guard skipped. */
  def publishEpochGuarded(batch: DataFrame, root: String,
                          epoch: Long): Option[Long] = {
    // The guard must survive an INTERLEAVED plain publish (a batch
    // seeding/repair job stamps no epoch) and a rollback: the newest
    // epoch-stamped committed version decides, not the current one.
    val published = graft.core.Snapshot.latestMeta(root, "epoch").map(_.toLong)
    if (published.exists(_ >= epoch)) None
    else Some(graft.core.Snapshot.publish(batch, root,
      Map("epoch" -> epoch.toString)))
  }

  /** Drain a streaming frame into an in-memory table and return the result
    * (test/verification harness; Complete mode for aggregations, Update for
    * flatMapGroupsWithState, Append otherwise). */
  def drainToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    drain(df.writeStream.outputMode(mode).format("memory").queryName(name))
    df.sparkSession.table(name)
  }
  def drainToMemory(df: DataFrame, name: String, complete: Boolean): DataFrame =
    drainToMemory(df, name, if (complete) OutputMode.Complete else OutputMode.Append)
}
