package graft

import java.nio.file.Path
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.queries.Events
import graft.sources.Ingest
import graft.streaming.StreamOps

/** Batch/stream equivalence for every §2.5 operator (SURVEY §5.2.3): the
  * events table is replayed file-by-file through the streaming file source
  * and each streaming transform's drained result must equal the same
  * transform applied to the batch frame — plus crafted late-data cases for
  * the watermark, exactly-once on the checkpointed sink, and the CSV
  * file-arrival trigger analog.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // The real sf0.001 events table, ns→µs normalized, split into 4 replay
  // slices (deterministic membership by event_id, deterministic order by
  // file modification time).
  private lazy val eventsBatch = Tables.load(spark, sfDir, "events").cache()
  private lazy val replayDir: Path = {
    val d = tempDir("events_replay")
    val t0 = 1700000000000L
    (0 until 4).foreach { i =>
      writeSlice(eventsBatch.filter(col("event_id") % 4 === i), d, f"slice_$i%02d", t0 + i * 60000)
    }
    d
  }

  private def replayStream: DataFrame =
    spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(replayDir.toString)

  test("STR-W1 tumbling window: stream replay equals batch") {
    val streamed = StreamOps.drainToMemory(
      StreamOps.tumbling(replayStream), "w1_stream", complete = true)
    assertSameRows(streamed, StreamOps.tumbling(eventsBatch), "tumbling")
  }

  test("STR-W2 sliding window: stream replay equals batch") {
    val streamed = StreamOps.drainToMemory(
      StreamOps.sliding(replayStream), "w2_stream", complete = true)
    assertSameRows(streamed, StreamOps.sliding(eventsBatch), "sliding")
  }

  test("STR-W3 session window: stream replay equals batch equals lag-gap twin") {
    val streamed = StreamOps.drainToMemory(
      StreamOps.sessionWindow(replayStream), "w3_stream", complete = true)
    val batch = StreamOps.sessionWindow(eventsBatch)
    assertSameRows(streamed, batch, "session_window stream vs batch")
    // Cross-algorithm: session_window must agree with the oracle-checked
    // lag-gap sessionization (EVT-2) on (user, start, size); session_window
    // ends at last_ts + gap while the lag-gap twin ends at last_ts, so the
    // comparison is on start + count.
    val viaWindow = batch.select(col("user_id"), col("session_start"), col("n_events"))
    val viaLag = Events.all("evt2")(spark, sfDir)
      .select(col("user_id"), col("session_start"), col("n_events"))
    assertSameRows(viaWindow, viaLag, "session_window vs lag-gap sessionization")
  }

  test("STR-FNL incremental funnel state: in-order replay equals the batch funnel") {
    // funnelState's equivalence contract requires event-time-ordered
    // arrival (late data cannot rewrite an already-filled slot), so this
    // replay slices by TIME QUARTILE — every slice's events follow all of
    // the previous slice's — unlike the event_id%4 slices the
    // order-insensitive operators replay.
    val d = tempDir("events_funnel_replay")
    val t0 = 1700000000000L
    val sliced = eventsBatch.withColumn("slice",
      ntile(4).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts").asc, col("event_id").asc)))
    (1 to 4).foreach { i =>
      writeSlice(sliced.filter(col("slice") === i).drop("slice"),
        d, f"slice_$i%02d", t0 + i * 60000)
    }
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    val drained = StreamOps.drainToMemory(
      StreamOps.funnelState(stream).toDF(), "funnel_stream",
      org.apache.spark.sql.streaming.OutputMode.Update)
    // State is monotone and each slot is set once, so a user's rows at the
    // same stage are identical; after dedup the max-stage row IS the final
    // state.
    val fin = drained.dropDuplicates()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("stage").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("first_view"), col("first_click"),
        col("first_purchase"), col("stage"))
    assertSameRows(fin, Events.all("funnel")(spark, sfDir),
      "incremental funnel state vs batch funnel")
  }

  // Crafted frame helper for the late-data / dedup / sink cases.
  private def ev(rows: (Long, String, Long, String, Double)*): DataFrame =
    rows.toSeq.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  test("STR-WM watermark drops events later than 1h behind max event time") {
    // Two checkpointed runs make the watermark advance deterministic: run 1
    // processes the on-time events (max 12:00 → checkpointed watermark
    // 11:00); run 2 sees the 10:05 straggler arrive after its 10:00 window
    // already closed. (One AvailableNow run over both files could batch them
    // together, leaving the watermark at 0 while the late row is processed.)
    val d = tempDir("wm_replay")
    val out = tempDir("wm_out").toString
    val ckpt = tempDir("wm_ckpt").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(ev((0L, "2024-06-01 00:00:00", 0L, "x", 0.0)).schema)
        .parquet(d.toString)
      StreamOps.runToParquetSink(StreamOps.tumblingWithWatermark(stream), out, ckpt)
    }
    writeSlice(ev(
      (1L, "2024-06-01 10:01:00", 1L, "c", 1.0),
      (2L, "2024-06-01 10:04:00", 1L, "c", 1.0),
      (3L, "2024-06-01 12:00:00", 1L, "c", 1.0)), d, "a", 1700000000000L)
    run()
    writeSlice(ev(
      (4L, "2024-06-01 10:05:00", 1L, "c", 1.0)), d, "b", 1700000060000L)
    run()
    // Append mode: only the finalized 10:00 window is emitted, without the
    // late event (n=2); the 12:00 window is still open at drain end.
    val rows = spark.read.parquet(out)
      .select("window_start", "event_type", "n_events").collect()
    assert(rows.length == 1, s"expected 1 finalized window, got ${rows.toSeq}")
    assert(rows(0).getTimestamp(0) == Timestamp.valueOf("2024-06-01 10:00:00"))
    assert(rows(0).getLong(2) == 2L, "late event must be dropped from the closed window")
    // The batch twin (no watermark) sees all 4 events: 3 in the 10:00 window.
    val batchN = StreamOps.tumbling(spark.read.parquet(d.toString))
      .filter(col("window_start") === lit(Timestamp.valueOf("2024-06-01 10:00:00")))
      .select("n_events").head().getLong(0)
    assert(batchN == 3L, "batch (no watermark) must include the late event")
  }

  test("STR-DDP streaming dedup equals batch dropDuplicates") {
    val d = tempDir("ddp_replay")
    writeSlice(ev(
      (1L, "2024-06-01 10:00:00", 1L, "c", 1.0),
      (2L, "2024-06-01 10:01:00", 1L, "c", 1.0)), d, "a", 1700000000000L)
    writeSlice(ev(
      (2L, "2024-06-01 10:01:00", 1L, "c", 1.0), // duplicate id
      (3L, "2024-06-01 10:02:00", 2L, "d", 2.0)), d, "b", 1700000060000L)
    val stream = spark.readStream.schema(ev((0L, "2024-06-01 00:00:00", 0L, "x", 0.0)).schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val out = tempDir("ddp_out").toString
    StreamOps.runToParquetSink(StreamOps.dedup(stream), out, tempDir("ddp_ckpt").toString)
    val streamed = spark.read.parquet(out)
    val batch = spark.read.parquet(d.toString).dropDuplicates("event_id")
    assert(streamed.count() == 3L)
    assert(streamed.count() == batch.count())
    assertSameRows(streamed.select("event_id", "ts", "user_id"),
      batch.select("event_id", "ts", "user_id"), "stream vs batch dedup")
  }

  test("STR-DDP2 dropDuplicatesWithinWatermark collapses re-stamped duplicates") {
    val d = tempDir("ddpw_replay")
    writeSlice(ev(
      (1L, "2024-06-01 10:00:00", 1L, "c", 1.0),
      (2L, "2024-06-01 10:01:00", 1L, "c", 1.0)), d, "a", 1700000000000L)
    writeSlice(ev(
      // Same event_id, DIFFERENT ts (producer retry re-stamped the time):
      // the (event_id, ts)-keyed dedup would pass this through; the
      // within-watermark business-key dedup must collapse it.
      (2L, "2024-06-01 10:05:00", 1L, "c", 1.0),
      (3L, "2024-06-01 10:02:00", 2L, "d", 2.0)), d, "b", 1700000060000L)
    val stream = spark.readStream.schema(ev((0L, "2024-06-01 00:00:00", 0L, "x", 0.0)).schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val out = tempDir("ddpw_out").toString
    StreamOps.runToParquetSink(
      StreamOps.dedupWithinWatermark(stream), out, tempDir("ddpw_ckpt").toString)
    val streamed = spark.read.parquet(out)
    assert(streamed.count() == 3L, "re-stamped duplicate must collapse")
    assert(streamed.select("event_id").distinct().count() == 3L)
    // First-seen row wins: event 2 keeps its original 10:01 stamp.
    val t2 = streamed.filter(col("event_id") === 2L)
      .head().getTimestamp(1).toString
    assert(t2.startsWith("2024-06-01 10:01"), s"kept wrong copy: $t2")
  }

  test("STR-DOC streaming document cleaning equals the batch projection") {
    val docs = Tables.load(spark, sfDir, "documents")
    val d = tempDir("doc_replay")
    (0 until 2).foreach { i =>
      writeSlice(docs.filter(col("doc_id") % 2 === i), d, f"slice_$i",
        1700000000000L + i * 60000)
    }
    val streamed = StreamOps.drainToMemory(
      StreamOps.docCleanProjection(StreamOps.documentsFileSource(spark, d.toString)),
      "doc_stream", complete = false)
    val batch = StreamOps.docCleanProjection(docs)
    assertSameRows(streamed, batch, "streamed document cleaning vs batch")
    assert(batch.filter(col("admit")).count() > 0, "some docs must pass the gate")
  }

  test("STR-HH streaming heavy hitters: MG bounds hold over the drained stream state") {
    // The summary folds into streaming-aggregation state across 3
    // micro-batches; whatever merge tree the engine used, the
    // deterministic MG bounds must hold against the exact counts of
    // everything streamed (the ApproxSpec laws applied to the streamed
    // final state), and the shape must serve: 10 rows + exact n_toks.
    val docs = Tables.load(spark, sfDir, "documents")
    val d = tempDir("hh_replay")
    (0 until 3).foreach { i =>
      writeSlice(docs.filter(col("doc_id") % 3 === i), d, f"slice_$i",
        1700000000000L + i * 60000)
    }
    val streamed = StreamOps.heavyHitterStream(
        StreamOps.documentsFileSource(spark, d.toString))
    val rows = StreamOps.drainToMemory(streamed, "hh_stream", complete = true)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exact = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val eps = n / 1025L
    assert(rows.length == 10, s"expected top-10 rows, got ${rows.length}")
    for ((tok, est, nToks) <- rows) {
      assert(nToks == n, s"streamed token count $nToks != exact $n")
      val t = exact(tok)
      assert(est <= t && est >= t - eps,
        s"$tok: streamed MG estimate $est outside [${t - eps}, $t]")
    }
  }

  test("STR-QSK streaming quantile state: rank bounds hold per event_type over the drained state") {
    // STR-HH's discipline applied to rank queries: the mergeable summary
    // folds into streaming-aggregation state across 3 micro-batches;
    // whatever merge tree the engine used, the ε rank bound must hold
    // per key against exact percentiles of everything streamed, with the
    // exact count riding along.
    val events = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val d = tempDir("qsk_replay")
    (0 until 3).foreach { i =>
      writeSlice(events.filter(col("event_id") % 3 === i), d, f"slice_$i",
        1700000000000L + i * 60000)
    }
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val rows = StreamOps.drainToMemory(
        StreamOps.quantileStream(stream), "qsk_stream", complete = true)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val cents = events.select(col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("c")).cache()
    try {
      val types = cents.select("event_type").distinct()
        .collect().map(_.getString(0))
      assert(rows.keySet == types.toSet, "event_type sets differ")
      for (t <- types) {
        val values = cents.filter(col("event_type") === t)
          .select("c").collect().map(_.getLong(0)).sorted
        val n = values.length.toLong
        val (p50, p99, nOut) = rows(t)
        assert(nOut == n, s"$t: streamed count $nOut != exact $n")
        val slack = math.max(3L, (0.06 * n).round)
        for ((q, v) <- Seq(0.5 -> p50, 0.99 -> p99)) {
          val target = math.max(1L, math.ceil(q * n).toLong)
          val lo = values.count(_ < v)
          val hi = values.count(_ <= v)
          assert(target >= lo - slack && target <= hi + slack,
            s"$t p$q: value $v rank window [$lo,$hi], target $target ± $slack")
        }
      }
    } finally cents.unpersist()
  }

  test("STR-EVAL streaming classifier audit equals the batch confusion cells") {
    val docs = Tables.load(spark, sfDir, "documents")
    val d = tempDir("eval_replay")
    (0 until 2).foreach { i =>
      writeSlice(docs.filter(col("doc_id") % 2 === i), d, f"slice_$i",
        1700000000000L + i * 60000)
    }
    val streamed = StreamOps.drainToMemory(
      StreamOps.classifierAuditStream(StreamOps.documentsFileSource(spark, d.toString)),
      "eval_stream", complete = true)
    val batch = StreamOps.classifierAuditStream(docs)
    assertSameRows(streamed, batch, "streamed confusion cells vs batch")
    // the 4 cells must ALSO reconcile with the gated batch query's row
    val cells = streamed.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val Array(ce) = SparkEntry.queries("cls_eval")(spark, sfDir).collect()
    assert(cells.getOrElse((1L, 1L), 0L) == ce.getAs[Long]("tp"))
    assert(cells.getOrElse((1L, 0L), 0L) == ce.getAs[Long]("fp"))
    assert(cells.getOrElse((0L, 1L), 0L) == ce.getAs[Long]("fn"))
    assert(cells.getOrElse((0L, 0L), 0L) == ce.getAs[Long]("tn"))
    assert(cells.values.sum == docs.count())
  }

  test("STR-ST2 event-time-timeout sessionizer: gap closes and watermark closes") {
    // user 1: 10:00 + 10:10 (one session), 11:30 (new session after the
    // 30-min gap). The 15:00 sentinel (user 99) advances the watermark to
    // 14:00 in a second micro-batch — past both user-1 session timeouts —
    // so BOTH close: the first by the in-stream gap rule, the second by
    // the event-time timeout. The sentinel's own session stays open
    // (watermark 14:00 < its 15:30 timeout) and must NOT be emitted.
    val d = tempDir("sess_replay")
    writeSlice(ev(
      (1L, "2024-06-01 10:00:00", 1L, "c", 0.0),
      (2L, "2024-06-01 10:10:00", 1L, "c", 0.0),
      (3L, "2024-06-01 11:30:00", 1L, "c", 0.0)), d, "a", 1700000000000L)
    writeSlice(ev(
      (4L, "2024-06-01 15:00:00", 99L, "c", 0.0)), d, "b", 1700000060000L)
    val stream = spark.readStream.schema(ev((0L, "2024-06-01 00:00:00", 0L, "x", 0.0)).schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .as[StreamOps.Ev]
    val out = StreamOps.drainToMemory(
      StreamOps.sessionize(stream).toDF(), "sess_stream", complete = false)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString.substring(0, 16),
        r.getLong(3))).toSet
    assert(out == Set((1L, "2024-06-01 10:00", 2L), (1L, "2024-06-01 11:30", 1L)),
      s"got $out")
  }

  test("STR-ST2 sessionizer equals batch session_window under time-ordered replay") {
    // Time-ordered slices (watermark advances monotonically) + a sentinel
    // 3h past the corpus max so every real session's timeout fires.
    val d = tempDir("sess_eq_replay")
    val byTs = eventsBatch.orderBy(col("ts"), col("event_id"))
      .withColumn("qrt", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach { i =>
      writeSlice(byTs.filter(col("qrt") === i).drop("qrt"), d, f"slice_$i%02d",
        1700000000000L + i * 60000)
    }
    val sentinelTs = new java.sql.Timestamp(
      eventsBatch.agg(max(col("ts"))).head().getTimestamp(0).getTime + 3 * 3600 * 1000L)
    writeSlice(ev((999999L, sentinelTs.toString.substring(0, 19), 999999L, "c", 0.0)),
      d, "slice_99", 1700000300000L)
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    val streamed = StreamOps.drainToMemory(
      StreamOps.sessionize(stream).toDF(), "sess_eq_stream", complete = false)
      .filter(col("user_id") =!= 999999L)
      .select(col("user_id"), col("session_start"), col("n_events"))
    val batch = StreamOps.sessionWindow(eventsBatch)
      .select(col("user_id"), col("session_start"), col("n_events"))
    assertSameRows(streamed, batch, "custom sessionizer vs native session_window")
  }

  test("STR-ST4 transformWithState sessionizer (event-time timers) equals the legacy twin") {
    // Same watermark-advancing replay as the STR-ST2 equivalence test:
    // time-ordered quartiles + a sentinel 3h past corpus max so every real
    // session's idle timer fires. The new-API twin must emit the SAME
    // session set — gap closes and timer closes both covered — proving
    // the explicit timer registry reproduces EventTimeTimeout's behavior.
    val d = tempDir("sess_tws_replay")
    val byTs = eventsBatch.orderBy(col("ts"), col("event_id"))
      .withColumn("qrt", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach { i =>
      writeSlice(byTs.filter(col("qrt") === i).drop("qrt"), d, f"slice_$i%02d",
        1700000000000L + i * 60000)
    }
    val sentinelTs = new java.sql.Timestamp(
      eventsBatch.agg(max(col("ts"))).head().getTimestamp(0).getTime + 3 * 3600 * 1000L)
    writeSlice(ev((999999L, sentinelTs.toString.substring(0, 19), 999999L, "c", 0.0)),
      d, "slice_99", 1700000300000L)
    def stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    val legacy = StreamOps.drainToMemory(
      StreamOps.sessionize(stream).toDF(), "sess_tws_legacy", complete = false)
      .filter(col("user_id") =!= 999999L)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tws = StreamOps.drainToMemory(
        StreamOps.sessionizeTws(stream).toDF(), "sess_tws_new", complete = false)
        .filter(col("user_id") =!= 999999L)
      assertSameRows(tws, legacy,
        "transformWithState sessionizer vs flatMapGroupsWithState sessionizer")
      // And transitively against the native session_window batch twin.
      assertSameRows(
        tws.select(col("user_id"), col("session_start"), col("n_events")),
        StreamOps.sessionWindow(eventsBatch)
          .select(col("user_id"), col("session_start"), col("n_events")),
        "transformWithState sessionizer vs batch session_window")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("STR-ST6 ListState context buffer equals the batch purchase_context under time-ordered replay") {
    // Fourth state primitive: the trailing-30-min ListState buffer must
    // reproduce the gated RANGE-frame query exactly — same context sets,
    // same struct order, same exclusive-of-purchase-instant bound — when
    // replayed in event-time order (the sequential-state contract).
    val d = tempDir("ctx_replay")
    val byTs = eventsBatch.orderBy(col("ts"), col("event_id"))
      .withColumn("qrt", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach { i =>
      writeSlice(byTs.filter(col("qrt") === i).drop("qrt"), d, f"slice_$i%02d",
        1700000000000L + i * 60000)
    }
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = StreamOps.drainToMemory(
        StreamOps.purchaseContextStream(stream).toDF(), "ctx_stream",
        org.apache.spark.sql.streaming.OutputMode.Append)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("ctx_n").cast("int").as("ctx_n"), col("ctx"))
      val batch = Events.all("purchase_context")(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("ctx_n").cast("int").as("ctx_n"), col("ctx"))
      assertSameRows(streamed, batch,
        "ListState context stream vs batch purchase_context")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("STR-EWMA sequential state equals a single-fold recount under time-ordered replay") {
    // Time-ordered quartile slices: the sequential recurrence is only
    // replay-correct when micro-batches arrive in event-time order (the
    // declared contract; out-of-order data is the truncated batch twin's
    // territory).
    val d = tempDir("ewma_replay")
    val byTs = eventsBatch.orderBy(col("ts"), col("event_id"))
      .withColumn("qrt", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach { i =>
      writeSlice(byTs.filter(col("qrt") === i).drop("qrt"), d, f"slice_$i%02d",
        1700000000000L + i * 60000)
    }
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    val streamed = StreamOps.drainToMemory(
      StreamOps.ewmaStream(stream).toDF(), "ewma_stream",
      org.apache.spark.sql.streaming.OutputMode.Update)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // driver-side single fold per user over the µs-exact total order —
    // same arithmetic in the same order, so equality is EXACT, not ~=
    val evs = eventsBatch.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.size == evs.length, "each event smoothed exactly once")
    evs.groupBy(_._1).foreach { case (u, rows) =>
      var s = 0.0; var first = true
      rows.sortBy(e => (e._3, e._2)).foreach { case (_, eid, _, v) =>
        s = if (first) v else 0.3 * v + 0.7 * s
        first = false
        assert(streamed((u, eid)) == s, s"user $u event $eid: ${streamed((u, eid))} vs $s")
      }
    }
  }

  test("STR-ATTR streaming attribution equals the batch attr_last under time-ordered replay") {
    val d = tempDir("attr_replay")
    val byTs = eventsBatch.orderBy(col("ts"), col("event_id"))
      .withColumn("qrt", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach { i =>
      writeSlice(byTs.filter(col("qrt") === i).drop("qrt"), d, f"slice_$i%02d",
        1700000000000L + i * 60000)
    }
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    val streamed = StreamOps.drainToMemory(
      StreamOps.attributionStream(stream).toDF(), "attr_stream",
      org.apache.spark.sql.streaming.OutputMode.Update)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4))).toSet
    val batch = SparkEntry.queries("attr_last")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4))).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("STR-BAL streaming clamped balance equals batch bounded_balance under time-ordered replay") {
    // The recurrence (stream state) vs the reflection identity (batch
    // windows): exact equality on every event certifies both at once.
    val d = tempDir("bal_replay")
    val byTs = eventsBatch.orderBy(col("ts"), col("event_id"))
      .withColumn("qrt", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach { i =>
      writeSlice(byTs.filter(col("qrt") === i).drop("qrt"), d, f"slice_$i%02d",
        1700000000000L + i * 60000)
    }
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    val streamed = StreamOps.drainToMemory(
      StreamOps.balanceStream(stream).toDF(), "bal_stream",
      org.apache.spark.sql.streaming.OutputMode.Update)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getString(3))).toSet
    val batch = SparkEntry.queries("bounded_balance")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getString(4))).toSet
    assert(streamed.size == batch.size, s"${streamed.size} vs ${batch.size} rows")
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("STR-DEB streaming debounce equals the batch kept-chain fold per user") {
    val d = tempDir("deb_replay")
    val byTs = eventsBatch.orderBy(col("ts"), col("event_id"))
      .withColumn("qrt", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach { i =>
      writeSlice(byTs.filter(col("qrt") === i).drop("qrt"), d, f"slice_$i%02d",
        1700000000000L + i * 60000)
    }
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    val streamed = StreamOps.drainToMemory(
      StreamOps.debounceStream(stream).toDF(), "deb_stream",
      org.apache.spark.sql.streaming.OutputMode.Update)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getBoolean(2)))
    // the per-user (n, n_kept, kept-id checksum) must match the SHIPPED
    // batch census exactly
    val agg = streamed.groupBy(_._1).map { case (u, rows) =>
      (u, rows.size.toLong, rows.count(_._3).toLong,
        rows.filter(_._3).map(_._2).sum)
    }.toSet
    val batch = SparkEntry.queries("debounce")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(agg == batch,
      s"stream-only: ${(agg -- batch).take(3)}; batch-only: ${(batch -- agg).take(3)}")
  }

  test("STR-RATE streaming burst counter equals the batch range-frame count per event") {
    val d = tempDir("rate_replay")
    val byTs = eventsBatch.orderBy(col("ts"), col("event_id"))
      .withColumn("qrt", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach { i =>
      writeSlice(byTs.filter(col("qrt") === i).drop("qrt"), d, f"slice_$i%02d",
        1700000000000L + i * 60000)
    }
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    val streamed = StreamOps.drainToMemory(
      StreamOps.burstStream(stream).toDF(), "rate_stream",
      org.apache.spark.sql.streaming.OutputMode.Update)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // batch truth: the same trailing-24h range-frame count per event
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-86400L * 1000000L, 0L)
    val batch = eventsBatch
      .withColumn("burst", count(lit(1)).over(w))
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("burst")).toMap
    assert(streamed.size == batch.size, s"${streamed.size} vs ${batch.size} events")
    val diff = batch.filter { case (k, v) => streamed.get(k) != Some(v) }
    assert(diff.isEmpty, s"first mismatches: ${diff.take(3)}")
  }

  test("STR-ST flatMapGroupsWithState running counters equal batch aggregate") {
    val stream = replayStream
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    val drained = StreamOps.drainToMemory(
      StreamOps.runningCounters(stream).toDF(), "state_stream",
      org.apache.spark.sql.streaming.OutputMode.Update)
    // Update mode emits one row per user per micro-batch; the final state is
    // the row with the highest n_events per user.
    val finalState = drained
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("n_events").desc)))
      .filter(col("rn") === 1).drop("rn")
    val batch = eventsBatch.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      sum(col("value")).as("total_value"),
      max(col("ts")).as("last_ts"))
    val joined = finalState.as("s").join(batch.as("b"), "user_id")
    assert(joined.count() == batch.count(), "one final state row per user")
    val bad = joined.filter(
      col("s.n_events") =!= col("b.n_events") ||
      col("s.last_ts") =!= col("b.last_ts") ||
      abs(col("s.total_value") - col("b.total_value")) > 1e-6).count()
    assert(bad == 0, "per-user state must match the batch aggregate")
  }

  test("RocksDB state store: session window + custom state run and match batch") {
    // The default HDFSBackedStateStoreProvider keeps every key in executor
    // heap — at 100 TB sessionization/join state that's an OOM, and the
    // production answer is the RocksDB provider (state spills to local SSD,
    // snapshots to the checkpoint dir). Prove this build runs stateful
    // queries on RocksDB with results identical to batch.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = StreamOps.drainToMemory(
        StreamOps.sessionWindow(replayStream), "w3_rocks", complete = true)
      assertSameRows(streamed, StreamOps.sessionWindow(eventsBatch),
        "session window on RocksDB state store")

      val stream = replayStream
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[StreamOps.Ev]
      val drained = StreamOps.drainToMemory(
        StreamOps.runningCounters(stream).toDF(), "state_rocks",
        org.apache.spark.sql.streaming.OutputMode.Update)
      val finalState = drained
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(col("n_events").desc)))
        .filter(col("rn") === 1).drop("rn")
      val batch = eventsBatch.groupBy("user_id").agg(
        count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      val joined = finalState.as("s").join(batch.as("b"), "user_id")
      assert(joined.count() == batch.count(), "one final state row per user")
      assert(joined.filter(col("s.n_events") =!= col("b.n_events") ||
        col("s.last_ts") =!= col("b.last_ts")).count() == 0,
        "RocksDB-backed state must match the batch aggregate")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("STR-ST3 transformWithState twin equals the flatMapGroupsWithState counters") {
    // The Spark 4 arbitrary-state API (StatefulProcessor + named state
    // slots) is the forward path for the legacy stateful fleet; pin one
    // operator on it against its legacy twin — SAME replay, equal drained
    // rows. transformWithState requires the RocksDB provider, which the
    // RocksDB parity test above already certifies for the legacy API, so
    // this comparison also spans the two state-store backends.
    val stream = replayStream
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    val legacy = StreamOps.drainToMemory(
      StreamOps.runningCounters(stream).toDF(), "st3_legacy",
      org.apache.spark.sql.streaming.OutputMode.Update)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tws = StreamOps.drainToMemory(
        StreamOps.runningCountersTws(stream).toDF(), "st3_tws",
        org.apache.spark.sql.streaming.OutputMode.Update)
      // Both APIs emit one updated-state row per (user, micro-batch) over
      // the same 4-slice replay: the full emission sequences must match,
      // not just the final states.
      assertSameRows(tws, legacy, "transformWithState vs flatMapGroupsWithState")
      // And the final per-user state matches the batch aggregate (the
      // STR-ST contract, now certified on the new API too).
      val finalState = tws
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(col("n_events").desc)))
        .filter(col("rn") === 1).drop("rn")
      val batch = eventsBatch.groupBy("user_id").agg(
        count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      val joined = finalState.as("s").join(batch.as("b"), "user_id")
      assert(joined.count() == batch.count(), "one final state row per user")
      assert(joined.filter(col("s.n_events") =!= col("b.n_events") ||
        col("s.last_ts") =!= col("b.last_ts")).count() == 0,
        "transformWithState final state must match the batch aggregate")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("STR-ST7 warm-start seeding: seed(first half) + stream(rest) equals batch(all)") {
    // The migration contract: a pipeline switching from nightly batch to
    // streaming seeds per-key state from the last batch aggregate and
    // streams only NEW data — the continued state must be
    // indistinguishable from having streamed everything.
    val mid = eventsBatch.agg(
      percentile_approx(unix_micros(col("ts")), lit(0.5), lit(10000)))
      .head().getLong(0)
    val firstHalf = eventsBatch.filter(unix_micros(col("ts")) <= mid)
    val rest = eventsBatch.filter(unix_micros(col("ts")) > mid)
    assert(firstHalf.count() > 0 && rest.count() > 0)
    val seed = firstHalf.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"), sum(col("value")).as("total_value"),
      max(col("ts")).as("last_ts")).as[StreamOps.UserStat]
    val d = tempDir("seed_replay")
    writeSlice(rest, d, "rest", 1700000000000L)
    val stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val drained = StreamOps.drainToMemory(
        StreamOps.runningCountersSeeded(stream, seed).toDF(), "st7_seeded",
        org.apache.spark.sql.streaming.OutputMode.Update)
      val finalState = drained
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(col("n_events").desc)))
        .filter(col("rn") === 1).drop("rn")
      // Users active after the cut: continued state == batch over ALL.
      val activeUsers = rest.select(col("user_id")).distinct()
      val batchAll = eventsBatch.groupBy("user_id").agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"),
        max(col("ts")).as("last_ts"))
        .join(activeUsers, "user_id")
      assert(finalState.count() == activeUsers.count(),
        "exactly the post-cut-active users emit")
      val joined = finalState.as("s").join(batchAll.as("b"), "user_id")
      assert(joined.count() == activeUsers.count())
      val bad = joined.filter(
        col("s.n_events") =!= col("b.n_events") ||
        col("s.last_ts") =!= col("b.last_ts") ||
        abs(col("s.total_value") - col("b.total_value")) > 1e-6).count()
      assert(bad == 0,
        "seeded-and-continued state must equal the batch aggregate over all data")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("STR-ST5 MapState histogram: final cells equal the batch groupBy counts") {
    // Third state primitive (MapState): per-user type->count map updated
    // point-wise. The last emission per (user, type) across the replay
    // must equal the batch groupBy count — order of arrival is irrelevant
    // because counts are monotone per cell.
    val stream = replayStream
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Ev]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val drained = StreamOps.drainToMemory(
        StreamOps.typeHistogramStream(stream).toDF(), "st5_hist",
        org.apache.spark.sql.streaming.OutputMode.Update)
      val finalCells = drained
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"), col("event_type"))
            .orderBy(col("n").desc)))
        .filter(col("rn") === 1).drop("rn")
      val batch = eventsBatch.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      assertSameRows(finalCells, batch,
        "MapState histogram final cells vs batch groupBy")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("STR-SNK checkpointed parquet sink is exactly-once across restarts") {
    val d = tempDir("snk_replay")
    writeSlice(ev(
      (1L, "2024-06-01 10:00:00", 1L, "c", 1.0),
      (2L, "2024-06-01 10:01:00", 1L, "c", 1.0)), d, "a", 1700000000000L)
    writeSlice(ev(
      (3L, "2024-06-01 10:02:00", 2L, "d", 2.0)), d, "b", 1700000060000L)
    val out = tempDir("snk_out").toString
    val ckpt = tempDir("snk_ckpt").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(ev((0L, "2024-06-01 00:00:00", 0L, "x", 0.0)).schema)
        .option("maxFilesPerTrigger", 1).parquet(d.toString)
      StreamOps.runToParquetSink(StreamOps.dedup(stream), out, ckpt)
    }
    run()
    assert(spark.read.parquet(out).count() == 3L)
    // Restart with the same checkpoint and no new input: no reprocessing,
    // no duplicate rows (exactly-once file sink).
    run()
    assert(spark.read.parquet(out).count() == 3L, "restart must not duplicate rows")
  }

  test("STR-RCV crash mid-batch: checkpoint recovery replays without dupes or loss") {
    // Injected failure at the worst point: AFTER the batch's side effect
    // lands on disk, BEFORE its commit reaches the checkpoint — the state a
    // real executor/driver death leaves behind. Recovery must re-run the
    // uncommitted batch; the idempotent per-batch overwrite (the standard
    // foreachBatch exactly-once recipe) turns that at-least-once replay
    // into exactly-once output.
    val out = tempDir("rcv_out").toString
    val ckpt = tempDir("rcv_ckpt").toString
    def run(crashAtBatch: Long): Option[Throwable] = {
      val stream = spark.readStream.schema(eventsBatch.schema)
        .option("maxFilesPerTrigger", 1).parquet(replayDir.toString)
      val q = stream.writeStream
        .foreachBatch { (df: DataFrame, bid: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch_id=$bid")
          if (bid == crashAtBatch)
            throw new RuntimeException(s"injected crash in batch $bid (post-write, pre-commit)")
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
    }
    val crash = run(crashAtBatch = 1)
    assert(crash.nonEmpty, "the injected batch-1 crash must terminate the query")
    // Batch 1's parquet exists on disk but its checkpoint commit does not:
    // a restart must replay it (same offsets → same rows → same partition
    // overwritten), then drain batches 2-3.
    assert(run(crashAtBatch = -1).isEmpty, "recovery run must complete cleanly")
    val cols = eventsBatch.columns.map(col).toIndexedSeq
    val recovered = spark.read.parquet(out).select(cols: _*)
    assertSameRows(recovered, eventsBatch.select(cols: _*),
      "post-crash sink must equal the batch input exactly once")
  }

  test("STR-SJOIN stream-static enrichment equals batch; unmatched users survive with NULL") {
    // Dimension: a per-user segment covering only ~half the users, so the
    // left-join NULL path is exercised on real rows.
    val dim = eventsBatch.select(col("user_id")).distinct()
      .filter(col("user_id") % 2 === 0)
      .withColumn("segment", when(col("user_id") % 4 === 0, "gold").otherwise("silver"))
      .cache()
    try {
      val streamed = StreamOps.drainToMemory(
        StreamOps.dimEnrichJoin(replayStream, dim), "sjoin_stream", complete = false)
      val batch = StreamOps.dimEnrichJoin(eventsBatch, dim)
      assertSameRows(streamed, batch, "stream-static enrichment")
      // Every event must survive: enrichment never drops unmatched facts.
      assert(batch.count() == eventsBatch.count(), "left enrichment lost rows")
      assert(batch.filter(col("segment").isNull).count() > 0,
        "expected some unmatched users carrying NULL segment")
    } finally dim.unpersist()
  }

  test("STR-JOIN stream-stream join equals batch join under time-ordered replay") {
    // Time-ordered slices: watermark advances monotonically, so no click's
    // match window closes before its possible purchases arrive (a randomly
    // sliced replay would legitimately drop cross-slice matches as late).
    val d = tempDir("join_replay")
    val byTs = eventsBatch.orderBy(col("ts"), col("event_id"))
      .withColumn("qrt", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach { i =>
      writeSlice(byTs.filter(col("qrt") === i).drop("qrt"), d, f"slice_$i%02d",
        1700000000000L + i * 60000)
    }
    def stream = spark.readStream.schema(eventsBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val streamed = StreamOps.drainToMemory(
      StreamOps.clickPurchaseJoin(stream, stream), "ssjoin_stream", complete = false)
    val batch = StreamOps.clickPurchaseJoin(eventsBatch, eventsBatch)
    assert(streamed.count() > 0, "join must produce matches on this corpus")
    assertSameRows(streamed, batch, "stream-stream join vs batch join")
  }

  test("STR-OJOIN left-outer stream-stream join emits null matches after watermark expiry") {
    // Crafted timeline: click 1 converts (purchase 2 within 10 min),
    // click 3 never converts, and a 13:00 click/purchase pair (sentinel)
    // advances BOTH sides' watermarks to 12:00 in a second batch — past
    // click 3's match-window end (10:20) — so the engine must emit
    // (3, null) in the watermark-eviction batch. The sentinel pair matches
    // itself and emits too, making stream output equal the batch left
    // join exactly.
    val d = tempDir("ojoin_replay")
    writeSlice(ev(
      (1L, "2024-06-01 10:00:00", 1L, "click", 0.0),
      (2L, "2024-06-01 10:05:00", 1L, "purchase", 5.0),
      (3L, "2024-06-01 10:10:00", 2L, "click", 0.0)), d, "a", 1700000000000L)
    writeSlice(ev(
      (4L, "2024-06-01 13:00:00", 99L, "click", 0.0),
      (5L, "2024-06-01 13:00:00", 99L, "purchase", 1.0)), d, "b", 1700000060000L)
    val batchIn = spark.read.parquet(d.toString)
    def stream = spark.readStream.schema(batchIn.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val streamed = StreamOps.drainToMemory(
      StreamOps.clickPurchaseLeftJoin(stream, stream), "ojoin_stream", complete = false)
    assert(streamed.filter(col("purchase_id").isNull).count() == 1L,
      "exactly the non-converting click must surface with a null match")
    assertSameRows(streamed, StreamOps.clickPurchaseLeftJoin(batchIn, batchIn),
      "left-outer stream-stream join vs batch left join")
  }

  test("StreamingStatusListener emits started/progress/terminated statuses") {
    val listener = new graft.streaming.StreamingStatusListener
    spark.streams.addListener(listener)
    try {
      val d = tempDir("status_replay")
      writeSlice(ev((1L, "2024-06-01 10:00:00", 1L, "c", 1.0)), d, "a", 1700000000000L)
      val stream = spark.readStream.schema(ev((0L, "2024-06-01 00:00:00", 0L, "x", 0.0)).schema)
        .parquet(d.toString)
      StreamOps.runToParquetSink(StreamOps.dedup(stream),
        tempDir("status_out").toString, tempDir("status_ckpt").toString)
      // Listener events are delivered asynchronously; poll briefly.
      val deadline = System.nanoTime() + 10_000_000_000L
      def done = listener.statuses.exists(_.contains("\"completed\""))
      while (!done && System.nanoTime() < deadline) Thread.sleep(50)
      val st = listener.statuses
      assert(st.exists(_.contains("\"started\"")), s"missing started: $st")
      assert(st.exists(_.contains("\"progress\"")), s"missing progress: $st")
      assert(st.exists(_.contains("\"completed\"")), s"missing completed: $st")
    } finally spark.streams.removeListener(listener)
  }

  test("maxFilesPerTrigger bounds per-micro-batch work; unbounded drains in one batch") {
    // The file source's backpressure knob (SURVEY §2.1 object-store notes):
    // an S3-triggered ingest that falls behind faces a directory of
    // thousands of accumulated files, and without a per-trigger cap the
    // next micro-batch swallows ALL of them — one giant batch, executor
    // OOM risk, no incremental checkpoint progress. The cap must split the
    // backlog into one micro-batch per file (bounded work, a commit after
    // each), and removing it must produce the single-batch behavior.
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    def batchSizes(src: DataFrame): Map[Long, Long] = {
      val sizes = scala.collection.concurrent.TrieMap[Long, Long]()
      val q = src.writeStream
        .outputMode(OutputMode.Append)
        .foreachBatch((b: DataFrame, id: Long) => { sizes.put(id, b.count()); () })
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sizes.toMap
    }
    val capped = batchSizes(replayStream) // maxFilesPerTrigger=1 over 4 slices
    val sliceSizes = (0 until 4)
      .map(i => i.toLong -> eventsBatch.filter(col("event_id") % 4 === i).count()).toMap
    assert(capped.size == 4, s"expected 4 file-sized micro-batches, got $capped")
    assert(capped == sliceSizes,
      s"each micro-batch must carry exactly one file: $capped vs $sliceSizes")
    val unbounded = batchSizes(
      spark.readStream.schema(eventsBatch.schema).parquet(replayDir.toString))
    assert(unbounded == Map(0L -> eventsBatch.count()),
      s"without the cap AvailableNow must drain the backlog in one batch: $unbounded")
  }

  test("STR-IVF streaming index maintenance equals batch cell assignment; replay converges") {
    // The arrival half of the IVF index: embedding files land, each
    // micro-batch assigns its vectors to the PUBLISHED centroid table and
    // appends to the cell-partitioned inverted-list store. The streamed
    // store must equal the batch assignment of the same corpus, survive an
    // idle checkpointed rerun, and converge under duplicate file delivery.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // Published index metadata: 8 deterministic seed centroids (the
    // retrain job — kmeans_iter — owns their quality; this op only
    // maintains the lists).
    val cent = emb.filter(col("vec_id") < 8)
      .select(concat(lit("c"), col("vec_id")).as("cell_label"),
        transform(col("embedding"), x => x.cast("double")).as("ce"))
    val d = tempDir("ivf_ingest")
    val out = tempDir("ivf_store").toString
    val ckpt = tempDir("ivf_ckpt").toString
    (0 to 3).foreach { i =>
      writeSlice(emb.filter(pmod(col("vec_id"), lit(4)) === i), d,
        f"slice_$i%02d", 1700000000000L + i * 60000)
    }
    StreamOps.runIvfIngest(spark, d.toString, emb.schema, cent, out, ckpt)
    val batchAssign = StreamOps.assignCells(emb, cent)
    def stored() = StreamOps.readStore(spark, out).select(col("vec_id"), col("cell"))
    assertSameRows(stored(), batchAssign,
      "streamed inverted lists vs batch cell assignment")
    // Idle rerun: the checkpoint re-delivers nothing.
    StreamOps.runIvfIngest(spark, d.toString, emb.schema, cent, out, ckpt)
    assertSameRows(stored(), batchAssign, "idle rerun must add nothing")
    // Duplicate delivery of slice 0 under a new name: the path-keyed
    // (cell, _src) overwrite rewrites identical content, so the per-pair
    // multiplicity grows by exactly the duplicate — never a torn mix.
    writeSlice(emb.filter(pmod(col("vec_id"), lit(4)) === 0), d,
      "slice_00_dup", 1700000400000L)
    StreamOps.runIvfIngest(spark, d.toString, emb.schema, cent, out, ckpt)
    assertSameRows(stored().distinct(), batchAssign,
      "duplicate delivery must not change the distinct (vec, cell) set")
    // Replay under RETRAINED centroids (the crashed-attempt-then-restart
    // case): wiping the checkpoint re-delivers every file; with a new
    // centroid table the delete-then-append keying must leave NO stale
    // old-cell rows — the store equals the batch assignment under the new
    // table only.
    val cent2 = emb.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select(concat(lit("r"), col("vec_id")).as("cell_label"),
        transform(col("embedding"), x => x.cast("double")).as("ce"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    StreamOps.runIvfIngest(spark, d.toString, emb.schema, cent2, out, ckpt)
    assertSameRows(stored().distinct(), StreamOps.assignCells(emb, cent2),
      "full replay under retrained centroids must leave no stale cells")

    // The PQ half: encoding the corpus slice-by-slice against a published
    // codebook equals encoding it whole — the stateless-per-row contract,
    // through the same PqEncode core the batch ivf_pq pipeline uses.
    val book = graft.operators.PqEncode.codebook(
      graft.operators.PqEncode.toLong(emb), "xq")
    val whole = StreamOps.encodePq(emb, book)
    val sliced = (0 to 3).map(i =>
        StreamOps.encodePq(emb.filter(pmod(col("vec_id"), lit(4)) === i), book))
      .reduce(_ unionByName _)
    assertSameRows(sliced, whole,
      "per-slice PQ encode must equal the whole-corpus encode")
  }

  test("STR-CLS scored ingest: streamed scores equal the gated batch apply; replay and retrain converge") {
    // The MODEL half of the maintained-artifact story (STR-IVF is the
    // index half): train CLS-1 once in batch, stream the same corpus in
    // as 4 arrival files scored against the published model, and demand
    // the streamed store equal the gated quality_lr output exactly —
    // same z doubles, same flags — because the scorer is ONE shared
    // implementation. Then the exactly-once laws: idle rerun adds
    // nothing; duplicate delivery leaves the distinct set unchanged;
    // full replay under a RETRAINED (here: sign-flipped) model leaves no
    // stale-model rows.
    import graft.queries.LlmOps
    val model = LlmOps.lrTrain(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val d = tempDir("cls_arrivals")
    val out = tempDir("cls_store").toString
    val ckpt = tempDir("cls_ckpt").toString
    (0 to 3).foreach { i =>
      writeSlice(docs.filter(pmod(col("doc_id"), lit(4)) === i), d,
        f"slice_$i%02d", 1700000000000L + i * 60000)
    }
    StreamOps.runScoredIngest(spark, d.toString, model, out, ckpt)
    val batch = LlmOps.lrScore(model.pd, model)
      .select(col("doc_id"), col("lang"), col("z").as("score"),
        (col("z") > lit(0.0)).cast("int").as("pred"))
    def stored() = StreamOps.readStore(spark, out)
      .select(col("doc_id"), col("lang"), col("score"), col("pred"))
    assertSameRows(stored(), batch,
      "streamed scores vs the gated batch apply (bit-equal doubles)")
    // Idle checkpointed rerun adds nothing.
    StreamOps.runScoredIngest(spark, d.toString, model, out, ckpt)
    assertSameRows(stored(), batch, "idle rerun must add nothing")
    // Duplicate delivery under a new name: distinct score set unchanged.
    writeSlice(docs.filter(pmod(col("doc_id"), lit(4)) === 0), d,
      "slice_00_dup", 1700000400000L)
    StreamOps.runScoredIngest(spark, d.toString, model, out, ckpt)
    assertSameRows(stored().distinct(), batch,
      "duplicate delivery must not change the distinct score set")
    // Retrain-and-replay: wipe the checkpoint, score everything again
    // under a sign-flipped model — the store must hold ONLY new-model
    // rows (delete-then-append keying, runIvfIngest's retrain law).
    val flipped = LlmOps.LrModel(model.pd, model.stats,
      model.wt.select(col("b"), (-col("w")).as("w")),
      model.w0.select((-col("w0")).as("w0")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    StreamOps.runScoredIngest(spark, d.toString, flipped, out, ckpt)
    val batchFlipped = LlmOps.lrScore(model.pd, flipped)
      .select(col("doc_id"), col("lang"), col("z").as("score"),
        (col("z") > lit(0.0)).cast("int").as("pred"))
    assertSameRows(stored().distinct(), batchFlipped,
      "full replay under a retrained model must leave no stale scores")
  }

  test("STR-CLS serving spine: a doc with no model-covered buckets still scores") {
    // Review-found edge: the scorer's feature⋈weight join is INNER, so a
    // doc whose hashed buckets are all absent from the published model
    // (trained on a different corpus) used to vanish from the scored
    // store. The serving spine must emit it at z = w0 − K instead.
    import graft.queries.LlmOps
    import spark.implicits._
    val trainDir = tempDir("cls_tiny").toString
    Seq((1L, "alpha beta gamma", "en", "t", 16L),
        (2L, "delta epsilon zeta", "fr", "t", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$trainDir/documents.parquet")
    val model = LlmOps.lrTrain(spark, trainDir)
    val d = tempDir("cls_unseen")
    val out = tempDir("cls_unseen_store").toString
    val ckpt = tempDir("cls_unseen_ckpt").toString
    val newDoc = Seq((9L, "omicron sigma tau upsilon", "en", "t", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    writeSlice(newDoc, d, "slice_00", 1700000000000L)
    StreamOps.runScoredIngest(spark, d.toString, model, out, ckpt)
    val stored = StreamOps.readStore(spark, out)
      .select(col("doc_id"), col("score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(stored.keySet == Set(9L), s"arriving doc must be scored: $stored")
    // And the streamed score equals the spined batch scorer on the same
    // slice — one implementation, fixed path included.
    val spine = newDoc.select(col("doc_id"), col("lang"),
      (col("lang") === "en").cast("double").as("y"))
    val batch = LlmOps.lrScore(LlmOps.lrFeatures(newDoc), model, Some(spine))
      .select(col("doc_id"), col("z")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(stored(9L) == batch(9L),
      s"streamed ${stored(9L)} != spined batch ${batch(9L)}")
  }

  test("STR-CLS compaction: post-compact scored store equals the gated batch apply, no read-side DISTINCT") {
    // r12 verdict task 2: STR-COMPACT's law applied to the SCORED store —
    // the last `_src`-keyed store family whose residue answer lived only
    // in a spec-side `.distinct()`. Ingest two slices + one
    // duplicate-DELIVERED file, compact keyed on doc_id (one score row
    // per doc), and the raw reader must equal the gated batch apply.
    import graft.queries.LlmOps
    val model = LlmOps.lrTrain(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val d = tempDir("clsc_arrivals")
    val out = tempDir("clsc_store").toString
    val ckpt = tempDir("clsc_ckpt").toString
    (0 to 1).foreach { i =>
      writeSlice(docs.filter(pmod(col("doc_id"), lit(2)) === i), d,
        f"slice_$i%02d", 1700000000000L + i * 60000)
    }
    StreamOps.runScoredIngest(spark, d.toString, model, out, ckpt)
    writeSlice(docs.filter(pmod(col("doc_id"), lit(2)) === 0), d,
      "slice_00_dup", 1700000400000L)
    StreamOps.runScoredIngest(spark, d.toString, model, out, ckpt)
    val batch = LlmOps.lrScore(model.pd, model)
      .select(col("doc_id"), col("lang"), col("z").as("score"),
        (col("z") > lit(0.0)).cast("int").as("pred"))
    def stored() = StreamOps.readStore(spark, out)
      .select(col("doc_id"), col("lang"), col("score"), col("pred"))
    val n = batch.count()
    val dupN = docs.filter(pmod(col("doc_id"), lit(2)) === 0).count()
    assert(stored().count() == n + dupN,
      "duplicate delivery must leave residue score rows before compaction")
    StreamOps.compactStore(spark, out, Seq("doc_id"), Seq("_src"))
    assertSameRows(stored(), batch,
      "post-compact scored store vs gated batch apply, NO DISTINCT")
    // The checkpointed ingest survives the compaction (layout preserved).
    StreamOps.runScoredIngest(spark, d.toString, model, out, ckpt)
    assert(stored().count() == n,
      "idle checkpointed rerun after compaction must add nothing")
  }

  test("STR-CLS calibrated serving: streamed score_cal equals batch sigma(z/T); T publishes beside the model") {
    // r12 verdict task 6: the published temperature reaches the serving
    // spine. Fit u = 1/T once in batch (the SAME lrTempFitU the gated
    // lr_temp runs), publish it as Snapshot metadata like the other
    // three model relations, stream the corpus against the PUBLISHED u,
    // and the stored score_cal must be bit-equal to the batch fold
    // dec8(sigma(u*z)) — one implementation, one published scalar.
    import graft.core.Snapshot
    import graft.core.Tables.dec8
    import graft.queries.LlmOps
    val model = LlmOps.lrTrain(spark, sfDir)
    val u = LlmOps.lrTemperatureU(spark, model)
    val root = tempDir("cls_temp_meta").toString
    val vT = Snapshot.publish(u, root, Map("kind" -> "lr_temperature"))
    assert(Snapshot.meta(root, vT).get("kind").contains("lr_temperature"))
    val uPub = Snapshot.read(spark, root, Some(vT))
    assertSameRows(uPub, u, "published temperature must round-trip")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val d = tempDir("cls_cal_arrivals")
    val out = tempDir("cls_cal_store").toString
    val ckpt = tempDir("cls_cal_ckpt").toString
    (0 to 1).foreach { i =>
      writeSlice(docs.filter(pmod(col("doc_id"), lit(2)) === i), d,
        f"slice_$i%02d", 1700000000000L + i * 60000)
    }
    StreamOps.runScoredIngest(spark, d.toString, model, out, ckpt,
      temp = Some(uPub))
    val batchCal = LlmOps.lrScore(model.pd, model)
      .crossJoin(broadcast(u))
      .select(col("doc_id"), col("z").as("score"),
        dec8(lit(1.0) / (lit(1.0) + exp(-col("u") * col("z"))))
          .cast("double").as("score_cal"))
    val stored = StreamOps.readStore(spark, out)
      .select(col("doc_id"), col("score"), col("score_cal"))
    assertSameRows(stored, batchCal,
      "streamed calibrated scores vs the batch temperature fold")
    // Monotonicity sanity: calibration never flips the decision column.
    val flips = StreamOps.readStore(spark, out)
      .filter((col("score") > 0.0) =!= (col("score_cal") > 0.5)).count()
    assert(flips == 0, s"temperature scaling flipped $flips decisions")
  }

  test("classifier lifecycle: the Snapshot-published model scores bit-identically") {
    // STR-CLS's serving premise made executable end-to-end: the trained
    // model's three relations publish as Snapshot versions (exactly like
    // the IVF centroids/codebook in the index lifecycle test), read back,
    // and score the corpus bit-identically to the in-memory model.
    import graft.core.Snapshot
    import graft.queries.LlmOps
    val m = LlmOps.lrTrain(spark, sfDir)
    val root = tempDir("cls_meta").toString
    val vS = Snapshot.publish(m.stats, root, Map("kind" -> "lr_stats"))
    val vW = Snapshot.publish(m.wt, root, Map("kind" -> "lr_weights"))
    val vB = Snapshot.publish(m.w0, root, Map("kind" -> "lr_bias"))
    assert(Snapshot.meta(root, vW).get("kind").contains("lr_weights"))
    val pub = LlmOps.LrModel(m.pd,
      Snapshot.read(spark, root, Some(vS)),
      Snapshot.read(spark, root, Some(vW)),
      Snapshot.read(spark, root, Some(vB)))
    assertSameRows(LlmOps.lrScore(m.pd, pub), LlmOps.lrScore(m.pd, m),
      "published model must score bit-identically to the in-memory one")
  }

  test("STR-IVF composed ADC ingest: streamed search state equals batch encode; replay and duplicates converge") {
    // runIvfAdcIngest lands the COMPLETE per-vector IVFADC search state
    // (cell, 8 PQ codes, norm). The streamed store must equal the batch
    // assignment+encode of the same corpus — the relation the gated
    // ivf_pq_stream parity query searches — and keep runIvfIngest's
    // exactly-once discipline under idle rerun and duplicate delivery.
    import graft.operators.PqEncode
    import graft.functions.GraftFunctions.dot_product
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cent = emb.filter(col("vec_id") < 8)
      .select(concat(lit("c"), col("vec_id")).as("cell_label"),
        transform(col("embedding"), x => x.cast("double")).as("ce"))
    val book = PqEncode.codebook(PqEncode.toLong(emb), "xq")
    val d = tempDir("adc_ingest")
    val out = tempDir("adc_store").toString
    val ckpt = tempDir("adc_ckpt").toString
    (0 to 3).foreach { i =>
      writeSlice(emb.filter(pmod(col("vec_id"), lit(4)) === i), d,
        f"slice_$i%02d", 1700000000000L + i * 60000)
    }
    StreamOps.runIvfAdcIngest(spark, d.toString, emb.schema, cent, book, out, ckpt)
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val batchState = StreamOps.assignCells(emb, cent)
      .join(StreamOps.encodePq(emb, book), Seq("vec_id"))
      .join(emb.select(col("vec_id"), sqrt(dot_product(dbl, dbl)).as("vn")),
        Seq("vec_id"))
    def stored() = StreamOps.readStore(spark, out)
      .select(col("vec_id"), col("cell"), col("sp"), col("cw"), col("vn"))
    assertSameRows(stored(), batchState,
      "streamed ADC state vs batch assignment+encode+norm")
    // Idle checkpointed rerun adds nothing.
    StreamOps.runIvfAdcIngest(spark, d.toString, emb.schema, cent, book, out, ckpt)
    assertSameRows(stored(), batchState, "idle rerun must add nothing")
    // Duplicate delivery under a new name: distinct state set unchanged.
    writeSlice(emb.filter(pmod(col("vec_id"), lit(4)) === 0), d,
      "slice_00_dup", 1700000400000L)
    StreamOps.runIvfAdcIngest(spark, d.toString, emb.schema, cent, book, out, ckpt)
    assertSameRows(stored().distinct(), batchState,
      "duplicate delivery must not change the distinct state set")
  }

  test("STR-IVF-SQ out-of-grid arrival saturates to the published grid edges (SQ8 clamp)") {
    // ADVICE r11: serving arrivals against a STALE published [mi,ma]
    // grid is the expected streamed-SQ case, and a dimension outside the
    // grid must encode to the nearest edge (Faiss IndexScalarQuantizer
    // saturation), never to an extrapolated negative or >255 code. Train
    // the grid on the corpus, then stream an arrival scaled 3x — far
    // outside the grid both ways — and demand every stored numerator lie
    // on [255·mi, 255·ma], with both edges actually hit.
    import graft.queries.LlmOps
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val train = emb.filter(col("vec_id") < 100)
    val stats = LlmOps.sqStats(LlmOps.sqLongForm(train))
    val cent = train.filter(col("vec_id") < 8)
      .select(concat(lit("c"), col("vec_id")).as("cell_label"),
        transform(col("embedding"), x => x.cast("double")).as("ce"))
    val wild = train.select(col("vec_id"),
      transform(col("embedding"), x => x * lit(3.0f)).as("embedding"))
    val d = tempDir("sq_wild")
    val out = tempDir("sq_wild_store").toString
    val ckpt = tempDir("sq_wild_ckpt").toString
    writeSlice(wild, d, "slice_00", 1700000000000L)
    StreamOps.runIvfSqIngest(spark, d.toString, emb.schema, cent, stats,
      out, ckpt)
    val row = StreamOps.readStore(spark, out).select(col("nq"))
      .crossJoin(broadcast(stats.select(col("mi"), col("ma"))))
      .select(posexplode(col("nq")).as(Seq("i", "nqv")),
        col("mi"), col("ma"))
      .select(col("nqv"),
        (lit(255L) * element_at(col("mi"), col("i") + 1)).as("lo"),
        (lit(255L) * element_at(col("ma"), col("i") + 1)).as("hi"))
      .agg(
        sum(when(col("nqv") < col("lo") || col("nqv") > col("hi"), 1L)
          .otherwise(0L)).as("oob"),
        sum(when(col("nqv") === col("hi"), 1L).otherwise(0L)).as("sat_hi"),
        sum(when(col("nqv") === col("lo"), 1L).otherwise(0L)).as("sat_lo"))
      .collect().head
    assert(row.getLong(0) == 0L,
      s"${row.getLong(0)} numerators escaped the published grid")
    assert(row.getLong(1) > 0L && row.getLong(2) > 0L,
      "a 3x-scaled arrival must saturate at both grid edges")
  }

  test("STR-COMPACT compaction removes at-least-once residue; post-compact store equals batch encode") {
    // The r11 verdict's task 4: the answer to `_src`-keyed stores'
    // at-least-once residue must be EXECUTABLE, not a comment. Ingest two
    // slices + one duplicate-DELIVERED file (same content, new name →
    // residue under a second _src), compact, and the store must equal
    // the batch encode ROW-FOR-ROW — no read-side DISTINCT anywhere.
    import graft.operators.PqEncode
    import graft.functions.GraftFunctions.dot_product
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cent = emb.filter(col("vec_id") < 8)
      .select(concat(lit("c"), col("vec_id")).as("cell_label"),
        transform(col("embedding"), x => x.cast("double")).as("ce"))
    val book = PqEncode.codebook(PqEncode.toLong(emb), "xq")
    val d = tempDir("cmp_ingest")
    val out = tempDir("cmp_store").toString
    val ckpt = tempDir("cmp_ckpt").toString
    (0 to 1).foreach { i =>
      writeSlice(emb.filter(pmod(col("vec_id"), lit(2)) === i), d,
        f"slice_$i%02d", 1700000000000L + i * 60000)
    }
    StreamOps.runIvfAdcIngest(spark, d.toString, emb.schema, cent, book, out, ckpt)
    writeSlice(emb.filter(pmod(col("vec_id"), lit(2)) === 0), d,
      "slice_00_dup", 1700000400000L)
    StreamOps.runIvfAdcIngest(spark, d.toString, emb.schema, cent, book, out, ckpt)
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val batchState = StreamOps.assignCells(emb, cent)
      .join(StreamOps.encodePq(emb, book), Seq("vec_id"))
      .join(emb.select(col("vec_id"), sqrt(dot_product(dbl, dbl)).as("vn")),
        Seq("vec_id"))
    def stored() = StreamOps.readStore(spark, out)
      .select(col("vec_id"), col("cell"), col("sp"), col("cw"), col("vn"))
    // The ADC state is LONG-form: 8 rows per vector (one per PQ
    // subspace `sp`), so the logical row key is (vec_id, sp).
    val n = batchState.count()
    val dupN = 8L * emb.filter(pmod(col("vec_id"), lit(2)) === 0).count()
    assert(stored().count() == n + dupN,
      "duplicate delivery must leave residue rows before compaction")
    StreamOps.compactStore(spark, out, Seq("vec_id", "sp"), Seq("_src", "cell"))
    assert(stored().count() == n,
      "post-compact row count must equal the batch encode")
    assertSameRows(stored(), batchState,
      "post-compact store vs batch state, NO read-side DISTINCT")
    // The checkpointed ingest keeps working across a compaction: an idle
    // rerun adds nothing (the _src-partitioned layout is preserved).
    StreamOps.runIvfAdcIngest(spark, d.toString, emb.schema, cent, book, out, ckpt)
    assert(stored().count() == n,
      "idle checkpointed rerun after compaction must add nothing")
    // Crash windows are STRUCTURAL under the versioned layout (r14): a
    // crash after publishing v+1 but before the pointer swap leaves an
    // orphan version ABOVE the pointer (plus the sentinel). The store
    // stays fully readable throughout — the pointer always names a
    // complete version — and the next pass refuses under the marker,
    // then sweeps the orphan once the operator removes it.
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val curV = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "_CURRENT")).trim.toLong
    val orphan = new org.apache.hadoop.fs.Path(out, s"v=${curV + 1}")
    fs.mkdirs(orphan)
    // Junk marker INSIDE the orphan: the recompaction legitimately
    // re-publishes at the same v=N path after sweeping it, so "the dir
    // exists" cannot distinguish swept-and-republished from never-swept —
    // the junk file can.
    val orphanJunk = new org.apache.hadoop.fs.Path(orphan, "crashed-junk")
    fs.create(orphanJunk, false).close()
    val crashMarker = new org.apache.hadoop.fs.Path(out + ".compacting")
    fs.create(crashMarker, false).close()
    assert(stored().count() == n,
      "a crashed pass's orphan version must be invisible to readers")
    intercept[java.io.IOException] {
      StreamOps.compactStore(spark, out, Seq("vec_id", "sp"), Seq("_src", "cell"))
    }
    assert(fs.exists(orphanJunk),
      "a refused call must not have touched the crashed state")
    fs.delete(crashMarker, false)
    StreamOps.compactStore(spark, out, Seq("vec_id", "sp"), Seq("_src", "cell"))
    assert(!fs.exists(orphanJunk),
      "the next pass's entry sweep must clear the crashed pass's orphan")
    assert(stored().count() == n,
      "content is unchanged across crash recovery + recompaction")
    // RACE 1 (the window the r12/r13 sentinel could NOT cover): an
    // append lands after the pre-swap listing re-check, before the
    // pointer swap. The pass must detect it at the post-swap re-check,
    // roll the pointer back, and leave the append intact in the served
    // version — NEVER silently swap it out.
    val dataDir = new org.apache.hadoop.fs.Path(
      StreamOps.storeDataDir(spark, out))
    // Materialize the racing rows up front (a write job must not read
    // the directory it is appending to).
    val raceSrc = spark.read.parquet(dataDir.toString)
      .filter(col("vec_id") === 0)
      .withColumn("_src", lit("00000000000000000000000000raceapp"))
    val raceLocal = spark.createDataFrame(
      java.util.Arrays.asList(raceSrc.collect(): _*), raceSrc.schema)
    StreamOps.compactPreSwapHook = () =>
      raceLocal.write.partitionBy("_src", "cell").mode("append")
        .parquet(dataDir.toString)
    val raceEx = try intercept[java.io.IOException] {
      StreamOps.compactStore(spark, out, Seq("vec_id", "sp"), Seq("_src", "cell"))
    } finally StreamOps.compactPreSwapHook = () => ()
    assert(raceEx.getMessage.contains("rolled back"),
      s"expected the post-swap race detection, got: ${raceEx.getMessage}")
    assert(StreamOps.storeDataDir(spark, out) == dataDir.toString,
      "the pointer must be rolled back to the raced version")
    assert(stored().count() == n + 8L,
      "the racing append must be intact in the served version")
    // A plain rerun (no race) now compacts the append away normally.
    StreamOps.compactStore(spark, out, Seq("vec_id", "sp"), Seq("_src", "cell"))
    assertSameRows(stored(), batchState,
      "post-race recompaction restores the batch state exactly")
    // RACE 2 (writer side): a compaction publishes a new version between
    // a micro-batch's append and its commit. The writer's post-append
    // pointer re-validation must throw — leaving the batch uncommitted —
    // and the checkpointed rerun redelivers it against the new current
    // version, converging by the delete-then-append keying.
    writeSlice(emb.filter(pmod(col("vec_id"), lit(2)) === 1), d,
      "slice_01_dup", 1700000800000L)
    StreamOps.ingestPostAppendHook = () =>
      StreamOps.compactStore(spark, out, Seq("vec_id", "sp"), Seq("_src", "cell"))
    val ex = try intercept[Exception] {
      StreamOps.runIvfAdcIngest(spark, d.toString, emb.schema, cent, book,
        out, ckpt)
    } finally StreamOps.ingestPostAppendHook = () => ()
    // The failure must be the version-supersede refusal, not a
    // coincidental error (review r13's vacuous-assert rule).
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(msgs.exists(_.contains("ingest superseded")),
      s"expected the version-supersede refusal, got: $msgs")
    // The hook's compaction SAW the append (it ran after the job
    // commit), so the published version already carries it — and the
    // redelivery is an idempotent rewrite of the same _src partitions.
    StreamOps.runIvfAdcIngest(spark, d.toString, emb.schema, cent, book,
      out, ckpt)
    assertSameRows(stored().distinct(), batchState,
      "the superseded micro-batch must redeliver and converge")
    StreamOps.compactStore(spark, out, Seq("vec_id", "sp"), Seq("_src", "cell"))
    assertSameRows(stored(), batchState,
      "post-race compaction restores the batch state exactly")
    // Divergence refusal (review r12): a key whose rows DIFFER across
    // _src partitions (duplicate-named delivery spanning a republish)
    // must abort the pass with the store untouched — min-_src election
    // between genuinely different states would keep an arbitrary one.
    val divDir = StreamOps.storeDataDir(spark, out)
    spark.read.parquet(divDir)
      .withColumn("vn", col("vn") + lit(1.0))
      .withColumn("_src", lit("00000000000000000000000divergent"))
      .write.partitionBy("_src", "cell").mode("append").parquet(divDir)
    val divTotal = stored().count()
    val pointer = java.nio.file.Paths.get(out, "_CURRENT")
    val pointerBefore = java.nio.file.Files.readString(pointer)
    intercept[java.io.IOException] {
      StreamOps.compactStore(spark, out, Seq("vec_id", "sp"), Seq("_src", "cell"))
    }
    assert(stored().count() == divTotal,
      "a refused compaction must leave the store untouched")
    // The refusal comes after the staging write: it must clean up that
    // write and lift the marker, and never move the pointer.
    assert(java.nio.file.Files.readString(pointer) == pointerBefore,
      "a refused compaction must not move _CURRENT")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .exists(_.getPath.getName.startsWith(".compact-staging-")),
      "a refused compaction must delete its staging directory")
    assert(!fs.exists(crashMarker), "a refused compaction must lift its marker")
  }

  test("compactStore: the convergence check follows distinct's equality per key") {
    // The check compares each row's non-_src state to its key's first row
    // with <=> (ordering equality). It must agree with the per-key
    // `distinct` rule it replaced: null = null, NaN = NaN, -0.0 = 0.0, and
    // any other difference (here null vs a value) is divergence.
    def compacts(name: String, rows: Seq[(Long, Double, Option[String], String)]): Boolean = {
      val out = tempDir(s"conv_$name").toString
      val df = rows.toDF("id", "x", "tag", "_src")
      df.write.partitionBy("_src").mode("overwrite").parquet(out)
      val distinctRule = df.drop("_src").distinct().groupBy(col("id")).count()
        .filter(col("count") > 1).isEmpty
      val compacted =
        try { StreamOps.compactStore(spark, out, Seq("id"), Seq("_src")); true }
        catch { case _: java.io.IOException => false }
      assert(compacted == distinctRule,
        s"$name: compactStore ${if (compacted) "compacted" else "refused"}, " +
          s"the distinct rule says converged=$distinctRule")
      val expected = if (compacted) df.select(col("id")).distinct().count() else rows.size.toLong
      assert(StreamOps.readStore(spark, out).count() == expected, s"$name: row count")
      compacted
    }
    assert(compacts("identical", Seq(
      (1L, 1.5, Some("x"), "srcA"), (1L, 1.5, Some("x"), "srcB"),
      (2L, 2.5, None, "srcA"), (2L, 2.5, None, "srcB"))))
    assert(compacts("signed_zero_nan", Seq(
      (1L, -0.0, Some("y"), "srcA"), (1L, 0.0, Some("y"), "srcB"),
      (2L, Double.NaN, None, "srcA"), (2L, Double.NaN, None, "srcB"))))
    assert(!compacts("null_vs_value", Seq(
      (1L, 1.0, None, "srcA"), (1L, 1.0, Some("z"), "srcB"),
      (2L, 3.0, Some("w"), "srcA"), (2L, 3.0, Some("w"), "srcB"))))
  }

  // ---- The partial rewrite: only the _src partitions holding a repeated
  // key are rewritten; every other partition is carried into v+1 as is.

  /** A versioned `_src`-keyed store at `root`: `df` as `v=1`, and the
    * pointer naming it. */
  private def versionedStore(root: String, df: DataFrame): Unit = {
    df.write.partitionBy("_src").parquet(s"$root/v=1")
    graft.core.Versioned(new org.apache.hadoop.fs.Path(root),
      spark.sparkContext.hadoopConfiguration).swap(1L)
  }

  /** Every file below `dir` as (path relative to `dir`, length, mtime). */
  private def storeFiles(dir: String): Set[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(p).toUri.getPath + "/"
    graft.core.Versioned.leafFiles(fs, p).map(f =>
      (f.getPath.toUri.getPath.stripPrefix(base), f.getLen, f.getModificationTime)).toSet
  }

  /** Three `_src` partitions of 40 ids each, plus `src0` repeating ids
    * 40-49 of `srcB` with the same state: residue in one partition, whose
    * key collides with a second. */
  private def residueStore: DataFrame = {
    val rows = (0L until 120L).map(i => (i, i * 1.5, s"t$i", Seq("srcA", "srcB", "srcC")((i / 40).toInt)))
    (rows ++ rows.slice(40, 50).map(_.copy(_4 = "src0"))).toDF("id", "x", "tag", "_src")
  }

  /** The full pass's result: per key, the row from the smallest `_src`. */
  private def fullPass(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id")).orderBy(col("_src"))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  test("compactStore rewrites only the partitions holding a repeated key and carries the rest into v+1") {
    val out = tempDir("partial_store").toString
    val df = residueStore
    versionedStore(out, df)
    val v1 = storeFiles(s"$out/v=1")
    StreamOps.compactStore(spark, out, Seq("id"), Seq("_src"))
    assert(StreamOps.storeDataDir(spark, out).endsWith("v=2"))
    assertSameRows(StreamOps.readStore(spark, out).select("id", "x", "tag", "_src"),
      fullPass(df), "partial pass vs the full pass's election")
    assert(storeFiles(s"$out/v=1") == v1, "the old version's listing must not change")
    val v2 = storeFiles(s"$out/v=2").map(f => (f._1, f._2))
    def in(part: String, fs: Set[(String, Long)]) = fs.filter(_._1.startsWith(s"_src=$part/"))
    val v1Named = v1.map(f => (f._1, f._2))
    for (part <- Seq("srcA", "srcC")) {
      assert(in(part, v1Named).nonEmpty && in(part, v2) == in(part, v1Named),
        s"untouched partition $part must be carried under the same names and lengths")
    }
    for (part <- Seq("src0", "srcB")) {
      assert(in(part, v2).map(_._1).intersect(in(part, v1Named).map(_._1)).isEmpty,
        s"touched partition $part must be rewritten")
    }
    // A second pass finds no repeated key: everything is carried.
    StreamOps.compactStore(spark, out, Seq("id"), Seq("_src"))
    assert(storeFiles(s"$out/v=3").map(f => (f._1, f._2)) ==
      v2.filter(_._1.startsWith("_src=")), "a pass with no repeated key carries every file")
  }

  test("compactStore: a key repeated inside one _src compacts when identical, refuses when it differs") {
    val other = (10L until 20L).map(i => (i, i * 0.5, "b", "srcB"))
    val same = tempDir("within_same").toString
    val sameDf = (Seq((1L, 1.5, "a", "srcA"), (1L, 1.5, "a", "srcA"), (2L, 2.5, "a", "srcA")) ++ other)
      .toDF("id", "x", "tag", "_src")
    versionedStore(same, sameDf)
    StreamOps.compactStore(spark, same, Seq("id"), Seq("_src"))
    assertSameRows(StreamOps.readStore(spark, same).select("id", "x", "tag", "_src"),
      sameDf.distinct(), "an identical duplicate inside one _src compacts to one row")
    val diff = tempDir("within_diff").toString
    val diffDf = (Seq((1L, 1.5, "a", "srcA"), (1L, 9.5, "a", "srcA"), (2L, 2.5, "a", "srcA")) ++ other)
      .toDF("id", "x", "tag", "_src")
    versionedStore(diff, diffDf)
    val v1 = storeFiles(s"$diff/v=1")
    val ex = intercept[java.io.IOException] {
      StreamOps.compactStore(spark, diff, Seq("id"), Seq("_src"))
    }
    assert(ex.getMessage.contains("carry state that differs"), ex.getMessage)
    assert(StreamOps.storeDataDir(spark, diff).endsWith("v=1"), "a refusal must not move the pointer")
    assert(storeFiles(s"$diff/v=1") == v1, "a refusal must leave the store untouched")
    assert(!new java.io.File(diff).list().exists(_.startsWith(".compact-staging-")),
      "a refusal must leave no staging behind")
  }

  test("compactStore: a partition rewritten between the listing and the carry reports the race") {
    GraftLocalFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val onFile = tempDir("carry_race_file").toString
    val localDir = tempDir("carry_race_graftlocal").toString
    // file: fails in the hard link, graftlocal: in the copy.
    for ((root, dir) <- Seq(onFile -> onFile, s"${GraftLocalFileSystem.Scheme}:$localDir" -> localDir)) {
      versionedStore(root, residueStore)
      // A notified load re-announcing srcA's drop deletes its files.
      val srcA = new org.apache.hadoop.fs.Path(s"$root/v=1/_src=srcA")
      StreamOps.compactPreCarryHook = () =>
        srcA.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(srcA, true)
      val ex = try intercept[java.io.IOException] {
        StreamOps.compactStore(spark, root, Seq("id"), Seq("_src"))
      } finally StreamOps.compactPreCarryHook = () => ()
      assert(ex.getMessage.contains("changed during compaction"), s"$root: ${ex.getMessage}")
      assert(StreamOps.storeDataDir(spark, root).endsWith("v=1"), s"$root: the pointer must not move")
      assert(!new java.io.File(dir).list().exists(_.startsWith(".compact-staging-")),
        s"$root: the failed carry must leave no staging behind")
      StreamOps.compactStore(spark, root, Seq("id"), Seq("_src"))
      assertSameRows(StreamOps.readStore(spark, root).select("id", "x", "tag", "_src"),
        fullPass(residueStore.filter(col("_src") =!= "srcA")), s"$root: the rerun")
    }
  }

  test("compactStore on a non-file: scheme copies the carried partitions and gives the same rows") {
    GraftLocalFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val df = residueStore
    val onFile = tempDir("carry_file").toString
    val localDir = tempDir("carry_graftlocal").toString
    val onGraft = s"${GraftLocalFileSystem.Scheme}:$localDir"
    for (root <- Seq(onFile, onGraft)) {
      versionedStore(root, df)
      StreamOps.compactStore(spark, root, Seq("id"), Seq("_src"))
    }
    assertSameRows(StreamOps.readStore(spark, onGraft), StreamOps.readStore(spark, onFile),
      "graftlocal: vs file: compaction")
    // A carried file is a second link to v=1's file on file:, and its own
    // copy elsewhere.
    def links(root: String): Set[Int] = {
      import scala.jdk.CollectionConverters._
      val part = java.nio.file.Paths.get(root, "v=2", "_src=srcA")
      val kids = java.nio.file.Files.list(part)
      try kids.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => java.nio.file.Files.getAttribute(p, "unix:nlink").asInstanceOf[Int]).toSet
      finally kids.close()
    }
    assert(links(onFile) == Set(2), "file: carries by hard link")
    assert(links(localDir) == Set(1), "graftlocal: carries by copy")
  }

  test("STR-COMPACT2 gated ivf_pq_stream: compacted read path matches batch ivf_pq with DISTINCT removed") {
    // End-to-end on the REAL gated store (the one `ivf_pq_stream`
    // searches, Lloyd centroids + refined codebook): inject residue as a
    // copied `_src=` partition (a duplicate-delivered file's residue IS a
    // second _src partition with identical content), compact, and the
    // UNGUARDED search — `.distinct()` removed — must equal batch
    // `ivf_pq`, whose oracle the gated query shares.
    import java.nio.file.{Files, Path => JPath}
    val root = graft.queries.LlmOps.ivfPqStreamStoreRoot(spark, sfDir)
    val store = java.nio.file.Paths.get(root, "store")
    // Residue goes into the CURRENT VERSION directory (the store is
    // versioned since r14) — the path every writer and reader resolves.
    val dataDir = java.nio.file.Paths.get(
      StreamOps.storeDataDir(spark, store.toString))
    val src = Files.list(dataDir).filter(_.getFileName.toString.startsWith("_src="))
      .findFirst().orElseThrow(() => new IllegalStateException("no _src partition"))
    val residue = dataDir.resolve("_src=00000000000000000000000000residue")
    def copyTree(from: JPath, to: JPath): Unit = {
      Files.createDirectories(to)
      val kids = Files.list(from)
      try kids.forEach { k =>
        if (Files.isDirectory(k)) copyTree(k, to.resolve(k.getFileName.toString))
        else { Files.copy(k, to.resolve(k.getFileName.toString)); () }
      } finally kids.close()
    }
    copyTree(src, residue)
    val batch = SparkEntry.queries("ivf_pq")(spark, sfDir)
    val guarded = graft.queries.LlmOps.ivfPqStreamSearch(spark, sfDir,
      distinctGuard = true)
    assertSameRows(guarded, batch,
      "guarded streamed search must absorb the residue partition")
    graft.streaming.StreamOps.compactStore(spark, store.toString,
      Seq("vec_id", "sp"), Seq("_src", "cell"))
    val unguarded = graft.queries.LlmOps.ivfPqStreamSearch(spark, sfDir,
      distinctGuard = false)
    assertSameRows(unguarded, batch,
      "compacted streamed search (DISTINCT removed) vs batch ivf_pq")
  }

  test("index lifecycle end-to-end: train → publish metadata → stream arrivals → search") {
    // The composed story the subsystems exist for: index METADATA
    // (centroids + PQ codebook) is trained by a batch job and published
    // as Snapshot versions; arrivals stream into the cell-partitioned
    // store against the PUBLISHED centroid table; a search served from
    // the streamed store equals the same search over the batch
    // assignment. Four subsystems, one executable flow.
    import graft.core.Snapshot
    import graft.operators.PqEncode
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cent = emb.filter(col("vec_id") < 8)
      .select(concat(lit("c"), col("vec_id")).as("cell_label"),
        transform(col("embedding"), x => x.cast("double")).as("ce"))
    val book = PqEncode.codebook(PqEncode.toLong(emb), "xq")
    // 1. Publish the index metadata; both versions round-trip losslessly.
    val metaRoot = tempDir("idx_meta").toString
    val vCent = Snapshot.publish(cent, metaRoot, Map("kind" -> "centroids"))
    val vBook = Snapshot.publish(book, metaRoot, Map("kind" -> "codebook"))
    assert(Snapshot.meta(metaRoot, vCent).get("kind").contains("centroids"))
    assertSameRows(Snapshot.read(spark, metaRoot, Some(vBook)), book,
      "published codebook must read back bit-identical")
    val centPub = Snapshot.read(spark, metaRoot, Some(vCent))
    // 2. Stream arrivals against the PUBLISHED centroid table.
    val d = tempDir("idx_arrivals")
    val out = tempDir("idx_store").toString
    val ckpt = tempDir("idx_ckpt").toString
    (0 to 1).foreach { i =>
      writeSlice(emb.filter(pmod(col("vec_id"), lit(2)) === i), d,
        f"slice_$i%02d", 1700000000000L + i * 60000)
    }
    StreamOps.runIvfIngest(spark, d.toString, emb.schema, centPub, out, ckpt)
    val store = StreamOps.readStore(spark, out).select(col("vec_id"), col("cell"))
    // 3. Search: query 0 probes its 2 nearest published cells; exact
    // cosine top-3 among the STREAMED store's members of those cells must
    // equal the same search over the batch assignment.
    import graft.functions.GraftFunctions.dot_product
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val vecs = emb.select(col("vec_id"), dbl.as("e"))
    val probes = graft.operators.IvfAssign.ranked(
        vecs.filter(col("vec_id") === 0), centPub)
      .filter(col("crn") <= 2).select(col("cell_label").as("pcell"))
      .collect().map(_.getString(0)).toSeq
    val qe = vecs.filter(col("vec_id") === 0)
      .select(col("e").as("qe"), sqrt(dot_product(col("e"), col("e"))).as("qn"))
    def top3(assignment: org.apache.spark.sql.DataFrame) =
      assignment.filter(col("cell").isin(probes: _*) && col("vec_id") =!= 0)
        .join(vecs, Seq("vec_id")).crossJoin(broadcast(qe))
        .withColumn("score", dot_product(col("qe"), col("e")) /
          (col("qn") * sqrt(dot_product(col("e"), col("e")))))
        .orderBy(col("score").desc, col("vec_id").asc).limit(3)
        .select(col("vec_id"), graft.core.Tables.dec4S(col("score")).as("s"))
    assertSameRows(top3(store), top3(StreamOps.assignCells(emb, centPub)),
      "search over the streamed store vs the batch assignment")
  }

  test("STR-NTFY notification-queue load equals the LIST-polling source; replay and duplicate notifications converge") {
    // The [REF] S3-event→Lambda trigger analog (SURVEY §2.1): arrivals are
    // announced by manifest lines in a queue directory, and the loader
    // reads exactly the notified paths — the data directory is NEVER
    // listed. Must match the polling file source's result on the same
    // arrival sequence, survive a checkpointed idle rerun, and converge
    // under at-least-once notification delivery (a duplicate manifest line
    // for an already-loaded path).
    val queue = tempDir("ntfy_queue")
    val out = tempDir("ntfy_out").toString
    val ckpt = tempDir("ntfy_ckpt").toString
    def notify(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(queue.resolve(name),
        lines.mkString("\n") + "\n")
    val cols = eventsBatch.columns.map(col)
    def loaded() = StreamOps.readStore(spark, out).select(cols.toSeq: _*)

    // Arrival wave 1: two manifests (one micro-batch each, slices 0/1).
    notify("n0.txt", s"$replayDir/slice_00.parquet")
    notify("n1.txt", s"$replayDir/slice_01.parquet")
    StreamOps.runNotifiedLoad(spark, queue.toString, eventsBatch.schema, out, ckpt)
    val wave1 = eventsBatch.filter(col("event_id") % 4 < 2)
    assertSameRows(loaded(), wave1, "notified load, wave 1")

    // Checkpointed replay: an idle rerun re-delivers nothing.
    StreamOps.runNotifiedLoad(spark, queue.toString, eventsBatch.schema, out, ckpt)
    assertSameRows(loaded(), wave1, "idle rerun must add nothing")

    // Wave 2 carries a DUPLICATE notification of slice_00 (at-least-once
    // queue semantics): the path-keyed overwrite must converge, not
    // double-load.
    notify("n2.txt", s"$replayDir/slice_02.parquet",
      s"$replayDir/slice_00.parquet")
    notify("n3.txt", s"$replayDir/slice_03.parquet")
    StreamOps.runNotifiedLoad(spark, queue.toString, eventsBatch.schema, out, ckpt)
    assertSameRows(loaded(), eventsBatch, "wave 2 + duplicate notification")

    // ADVICE r9: dynamic overwrite is a per-write option — the loader must
    // not leave (or ever have raced) a session-global overwrite-mode
    // mutation behind for concurrent writers to observe.
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_.equalsIgnoreCase("static")),
      "notified load must not mutate session-global partitionOverwriteMode")

    // Batch-equivalence with the LIST-polling source over the same files.
    val polled = StreamOps.drainToMemory(replayStream, "ntfy_polled",
      org.apache.spark.sql.streaming.OutputMode.Append)
    assertSameRows(loaded(), polled.select(cols.toSeq: _*),
      "notification-driven load vs LIST-polling file source")
  }

  test("STR-CDC streaming changelog apply converges to the batch cdc_apply snapshot") {
    import graft.queries.Events
    val orders = Tables.load(spark, sfDir, "orders")
    val (base, g1, g2) = Events.cdcGenerations(orders)
    // Seed the materialized snapshot with the base, then stream the two
    // changelog generations as ordered file arrivals.
    val snapDir = tempDir("cdc_snap").resolve("snapshot").toString
    base.write.mode("overwrite").parquet(snapDir)
    val logDir = tempDir("cdc_log")
    val t0 = 1700000000000L
    writeSlice(g1, logDir, "gen_1", t0)
    writeSlice(g2, logDir, "gen_2", t0 + 60000)
    val changelog = spark.readStream.schema(g1.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(logDir.toString)
    StreamOps.runChangelogApply(changelog, snapDir,
      tempDir("cdc_ckpt").toString)
    // Sequential per-generation apply must equal the batch query's global
    // latest-op-wins (each generation is key-unique — the declared
    // precondition); compare on the snapshot columns.
    val streamed = StreamOps.readStore(spark, snapDir)
      .select(col("k").as("o_orderkey"),
        col("price").cast("string").as("price"), col("status"))
    val batch = SparkEntry.queries("cdc_apply")(spark, sfDir)
      .select(col("o_orderkey"), col("price"), col("status"))
    assertSameRows(streamed, batch, "STR-CDC final snapshot vs batch cdc_apply")
    // Replaying the same arrivals against the converged snapshot from a
    // FRESH checkpoint must CONVERGE BACK to the same snapshot: each
    // key's final state is re-derived by the full sequence (I/U replace
    // with identical values, D-then-I re-creates, U-then-D removes) —
    // the at-least-once redelivery contract for a changelog consumer.
    StreamOps.runChangelogApply(
      spark.readStream.schema(g1.schema).option("maxFilesPerTrigger", 1)
        .parquet(logDir.toString),
      snapDir, tempDir("cdc_ckpt2").toString)
    val replayed = StreamOps.readStore(spark, snapDir)
      .select(col("k").as("o_orderkey"),
        col("price").cast("string").as("price"), col("status"))
    assertSameRows(replayed, batch, "STR-CDC re-replay idempotence")
  }

  // STR-CDC's disk cases: the convergence test's base snapshot and its
  // two changelog generations, streamed as ordered file arrivals.
  private lazy val cdcGens = Events.cdcGenerations(Tables.load(spark, sfDir, "orders"))

  private def applyCdc(snapDir: String, tag: String): Unit = {
    val (_, g1, g2) = cdcGens
    val logDir = tempDir(s"${tag}_log")
    writeSlice(g1, logDir, "gen_1", 1700000000000L)
    writeSlice(g2, logDir, "gen_2", 1700000060000L)
    StreamOps.runChangelogApply(
      spark.readStream.schema(g1.schema).option("maxFilesPerTrigger", 1)
        .parquet(logDir.toString),
      snapDir, tempDir(s"${tag}_ckpt").toString)
  }

  private def assertCdcConverged(snapDir: String, hint: String): Unit =
    assertSameRows(
      StreamOps.readStore(spark, snapDir).select(col("k").as("o_orderkey"),
        col("price").cast("string").as("price"), col("status")),
      SparkEntry.queries("cdc_apply")(spark, sfDir)
        .select(col("o_orderkey"), col("price"), col("status")),
      hint)

  test("STR-CDC on a non-file: scheme converges to the batch cdc_apply snapshot") {
    GraftLocalFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val localDir = tempDir("cdc_graftlocal").resolve("snapshot")
    val snapDir = s"${GraftLocalFileSystem.Scheme}:$localDir"
    cdcGens._1.write.parquet(snapDir)
    applyCdc(snapDir, "cdc_graftlocal")
    assertCdcConverged(snapDir, "STR-CDC on graftlocal: vs batch cdc_apply")
    assert(java.nio.file.Files.exists(localDir.resolve("_CURRENT")),
      "the snapshot must be committed through the version pointer")
  }

  test("STR-CDC crash states: orphans are swept and the pointer's version is served") {
    val snapDir = tempDir("cdc_crash").resolve("snapshot").toString
    val t = graft.core.Versioned(new org.apache.hadoop.fs.Path(snapDir),
      spark.sparkContext.hadoopConfiguration)
    val base = cdcGens._1
    val wrong = base.withColumn("status", lit("X"))
    // A crash after the swap, before retention: two committed versions,
    // the pointer at the second.
    wrong.write.parquet(t.vdir(1L).toString)
    base.write.parquet(t.vdir(2L).toString)
    t.swap(2L)
    // A crash after the claim, before the swap: a version above the
    // pointer. A crash during the write: an orphan staging directory.
    wrong.write.parquet(t.vdir(3L).toString)
    wrong.write.parquet(t.child(".staging-crashed").toString)
    applyCdc(snapDir, "cdc_crash")
    assertCdcConverged(snapDir, "STR-CDC after the crash states")
    // The orphan v=3 was swept before the first batch claimed v=3; the
    // second batch claimed v=4, and keep-previous retention kept v=3 only.
    assert(t.current.contains(4L) && t.versions.sorted == Seq(3L, 4L), t.names)
    assert(!t.names.exists(_.startsWith(".staging-")), t.names)
  }

  test("STR-CDC refuses an absent root while <root>.prev holds a parked snapshot") {
    val snapDir = tempDir("cdc_parked").resolve("snapshot").toString
    cdcGens._1.write.parquet(s"$snapDir.prev")
    val ex = intercept[Exception](applyCdc(snapDir, "cdc_parked"))
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains(s"$snapDir.prev"), msgs)
    assert(!new java.io.File(snapDir).exists(), "a refusal must not start an empty view")
  }

  test("STR-SNAP versioned publish: epochs are atomic versions, time travel reads prefixes, replay guarded") {
    import graft.core.Snapshot
    val root = tempDir("snap_pub").toString
    val ckpt = tempDir("snap_pub_ckpt").toString
    val srcDir = tempDir("snap_pub_src")
    val t0 = 1700000000000L
    def aggOf(df: DataFrame) = df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Tables.dsumS(col("value")).as("sv"))
    def runOnce(): Unit = StreamOps.runVersionedPublish(
      aggOf(spark.readStream.schema(eventsBatch.schema).parquet(srcDir.toString)),
      root, ckpt)
    // Three arrival waves; each wave is one epoch → one published version
    // equal to the batch aggregate over the data seen SO FAR (Complete-mode
    // state carries across the AvailableNow restarts via the checkpoint).
    (0 until 3).foreach { i =>
      writeSlice(eventsBatch.filter(col("event_id") % 3 === i),
        srcDir, f"wave_$i%02d", t0 + i * 60000)
      runOnce()
      assert(Snapshot.currentVersion(root).contains((i + 1).toLong),
        s"wave $i must publish version ${i + 1}")
      assertSameRows(Snapshot.read(spark, root),
        aggOf(eventsBatch.filter(col("event_id") % 3 <= i)),
        s"STR-SNAP current after wave $i")
    }
    // Time travel: every historical epoch still reads exactly its prefix —
    // the audit trail the single-version CDC swap cannot offer.
    (0 until 3).foreach { i =>
      assertSameRows(Snapshot.read(spark, root, Some(i + 1L)),
        aggOf(eventsBatch.filter(col("event_id") % 3 <= i)),
        s"STR-SNAP time travel to epoch $i")
      assert(Snapshot.meta(root, i + 1L).get("epoch").contains(i.toString),
        s"version ${i + 1} must be stamped with its epoch")
    }
    // Idle rerun (no new files): no batch fires, no version appears.
    runOnce()
    assert(Snapshot.currentVersion(root).contains(3L), "idle rerun must not publish")
    // At-least-once redelivery: re-offering the LAST epoch's result (crash
    // between publish and checkpoint commit) is skipped by the store-side
    // guard; only a genuinely new epoch publishes.
    val last = aggOf(eventsBatch)
    assert(StreamOps.publishEpochGuarded(last, root, 2L).isEmpty,
      "redelivered epoch must be skipped")
    assert(Snapshot.currentVersion(root).contains(3L))
    assert(StreamOps.publishEpochGuarded(last, root, 3L).contains(4L),
      "a new epoch must publish")
  }

  test("STR-SNAP replay guard: a legacy pre-manifest root still blocks redelivered epochs") {
    // ADVICE r10 (medium): the guard reads epochs from the _PUBLISHED
    // manifest history; on a root published before the manifest existed
    // the history is empty until recordPublished backfills — which runs
    // at publish time, AFTER the guard. Without the currentVersion
    // fallback the first post-upgrade call waves any redelivered stale
    // epoch straight through as a duplicate version.
    import graft.core.Snapshot
    val root = tempDir("snap_legacy").toString
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(StreamOps.publishEpochGuarded(df, root, 0L).contains(1L))
    assert(StreamOps.publishEpochGuarded(df, root, 1L).contains(2L))
    // Simulate the pre-manifest root: versions + pointer exist, no manifest.
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_PUBLISHED"))
    assert(Snapshot.publishedVersions(root).isEmpty, "legacy root precondition")
    assert(StreamOps.publishEpochGuarded(df, root, 1L).isEmpty,
      "redelivered stale epoch must be blocked on a legacy root")
    assert(StreamOps.publishEpochGuarded(df, root, 0L).isEmpty,
      "an older stale epoch must be blocked on a legacy root")
    assert(Snapshot.currentVersion(root).contains(2L),
      "blocked replays must not move the pointer")
    // Review r11: an UN-STAMPED tip must not blind the fallback — a
    // plain publish (batch seeding/repair job, no epoch meta) on the
    // legacy root moves the pointer to a version with no epoch, and the
    // guard must still find the older stamped versions on disk.
    Snapshot.publish(df, root)
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_PUBLISHED"))
    assert(Snapshot.meta(root, Snapshot.currentVersion(root).get).get("epoch").isEmpty,
      "precondition: tip carries no epoch stamp")
    assert(StreamOps.publishEpochGuarded(df, root, 1L).isEmpty,
      "stale epoch must be blocked even when the legacy tip is un-stamped")
    // A genuinely new epoch publishes, and the manifest backfill then
    // restores the full history for subsequent guards.
    assert(StreamOps.publishEpochGuarded(df, root, 2L).contains(4L))
    assert(Snapshot.publishedVersions(root) == Seq(1L, 2L, 3L, 4L),
      "first post-upgrade publish must backfill the manifest")
    assert(StreamOps.publishEpochGuarded(df, root, 2L).isEmpty,
      "guard must hold again on the backfilled manifest")
  }

  test("STR-DRIFT monitor: identical replay converges to exactly zero; a shifted stream alarms") {
    val ref = eventsBatch.select(col("value"))
    val log1 = tempDir("drift_log").toString
    StreamOps.runDriftMonitor(
      spark.readStream.schema(eventsBatch.schema).option("maxFilesPerTrigger", 1)
        .parquet(replayDir.toString).select(col("value")),
      ref, log1, tempDir("drift_ckpt").toString)
    val l1 = spark.read.parquet(log1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(l1.length == 4, s"one log row per epoch: ${l1.toSeq}")
    assert(l1.map(_._2).toSeq == l1.map(_._2).sorted.toSeq, "n_seen must be cumulative")
    assert(l1.last._2 == eventsBatch.count(), "final epoch must have seen everything")
    // Same multiset as the reference → every (p−q)²/(p+q) term vanishes —
    // the zero is EXACT (identical count/total divisions), not a tolerance.
    assert(l1.last._3 == 0.0 && !l1.last._4, s"identical final must read 0: ${l1.last}")
    // A stream shifted above the reference range clamps to the edge bin:
    // maximal divergence, alarm on.
    val shiftDir = tempDir("drift_shift")
    writeSlice(eventsBatch.withColumn("value", col("value") + lit(100000.0)),
      shiftDir, "s0", 1700000000000L)
    val log2 = tempDir("drift_log2").toString
    StreamOps.runDriftMonitor(
      spark.readStream.schema(eventsBatch.schema)
        .parquet(shiftDir.toString).select(col("value")),
      ref, log2, tempDir("drift_ckpt2").toString)
    val l2 = spark.read.parquet(log2).collect()
      .map(r => (r.getDouble(2), r.getBoolean(3)))
    assert(l2.length == 1 && l2.head._2 && l2.head._1 > 0.25,
      s"shifted stream must alarm: ${l2.toSeq}")
  }

  test("STR-SRC CSV file-arrival trigger: streamed partner CSVs equal batch read") {
    import graft.queries.Ingestion
    val d = tempDir("csv_arrivals")
    java.nio.file.Files.writeString(d.resolve("f1.csv"),
      "id,name,qty,price,ship_date\n1,Widget,5,19.99,2024-01-15\n2,\"Gadget, large\",3,249.5,2024-02-01\n")
    java.nio.file.Files.writeString(d.resolve("f2.csv"),
      "id,name,qty,price,ship_date\n3,\"Bolt \"\"M8\"\" steel\",100,0.25,2024-02-10\n")
    val streamed = StreamOps.drainToMemory(
      StreamOps.csvFileSource(spark, d.toString, Ingestion.csvSchema),
      "csv_stream", complete = false)
    val batch = Ingest.readCsv(spark, d.toString, Ingestion.csvSchema, Ingest.FailFast)
    assert(streamed.count() == 3L)
    assertSameRows(streamed, batch, "streamed CSV vs batch CSV")
  }

  test("STR-ST6 context clock is µs-exact before 1970: a click at -0.7 s is context for a purchase at +0.1 s") {
    // A µs conversion that truncates toward zero put the click at +0.3 s,
    // after the purchase, so it fell out of the context.
    val d = tempDir("ctx_epoch")
    Seq(StreamOps.Ev(1L, new Timestamp(-700L), 7L, "click", 1.0),
        StreamOps.Ev(2L, new Timestamp(100L), 7L, "purchase", 2.0))
      .toDS().write.mode("overwrite").parquet(d.toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[StreamOps.Ev].schema)
      .parquet(d.toString).as[StreamOps.Ev]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = StreamOps.drainToMemory(
        StreamOps.purchaseContextStream(stream).toDF(), "ctx_epoch",
        org.apache.spark.sql.streaming.OutputMode.Append)
        .select(col("event_id"), col("ctx_n"), col("ctx")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      assert(out == Seq((2L, 1, "-700000:1:click")), s"got $out")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("STR-NTFY a compaction mid-batch supersedes the notified load; its redelivery lands every row once") {
    // The hook runs a compaction after the micro-batch's write commits and
    // before its pointer re-check: the batch must refuse to commit, and the
    // checkpointed rerun must redeliver it into the new current version.
    val queue = tempDir("ntfy_race_queue")
    val out = tempDir("ntfy_race_out").toString
    val ckpt = tempDir("ntfy_race_ckpt").toString
    def notify(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(queue.resolve(name),
        lines.mkString("\n") + "\n")
    notify("n0.txt", s"$replayDir/slice_00.parquet")
    StreamOps.runNotifiedLoad(spark, queue.toString, eventsBatch.schema, out, ckpt)
    val before = StreamOps.storeDataDir(spark, out)
    notify("n1.txt", s"$replayDir/slice_01.parquet")
    StreamOps.ingestPostAppendHook = () =>
      StreamOps.compactStore(spark, out, Seq("event_id"), Seq("_src"))
    val ex = try intercept[Exception] {
      StreamOps.runNotifiedLoad(spark, queue.toString, eventsBatch.schema, out, ckpt)
    } finally StreamOps.ingestPostAppendHook = () => ()
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .toSeq
    assert(msgs.exists(_.contains("notified load superseded")),
      s"expected the version-supersede refusal, got: $msgs")
    assert(StreamOps.storeDataDir(spark, out) != before,
      "the compaction must have published a new version")
    StreamOps.runNotifiedLoad(spark, queue.toString, eventsBatch.schema, out, ckpt)
    assertSameRows(
      StreamOps.readStore(spark, out).select(eventsBatch.columns.toSeq.map(col): _*),
      eventsBatch.filter(col("event_id") % 4 < 2),
      "every announced row exactly once after the redelivery")
  }
}
