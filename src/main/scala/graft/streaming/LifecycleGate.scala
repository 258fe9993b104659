package graft.streaming

import org.apache.spark.sql.DataFrame

/** The post-ingestion LIFECYCLE CONSUMER — the executable analog of the
  * reference's teardown loop ("Sending completion status of process to CW
  * to terminate EC2", `/root/reference/Untitled Diagram.drawio:147-149`,
  * `:129-137`): something must READ the completion records and drive an
  * action, or the status eventing is telemetry with no consumer. Here the
  * gate consumes a [[StatusListener]]'s records and either RELEASES the
  * downstream effect or holds it:
  *
  *   - `publishIfClean` — the "load the warehouse copy FIRST, signal only
  *     after it is complete" contract closed end-to-end: the snapshot
  *     pointer swap (readers' visibility event) happens only when every
  *     watched action completed successfully. A failed ingest leaves the
  *     previous published version in place — downstream readers never see
  *     a half-loaded run.
  *   - `evaluate` — the bare decision (the "terminate EC2" mark): a run is
  *     terminable/releasable iff it produced at least one successful
  *     completion record and zero failures. Callers owning other effects
  *     (cluster teardown, airflow task success, queue ack) branch on it.
  *
  * Cluster note: the same gate logic consumes any transport's status
  * records (CloudWatch, a Kafka status topic, a metrics table) — the
  * in-process listener is the sandbox-executable transport, and the
  * decision rule is transport-independent.
  */
object LifecycleGate {
  /** The gate's verdict over a run's status records. `release` iff the run
    * recorded ≥1 successful completion and 0 failures — an empty record
    * list HOLDS (a run that never reported is indistinguishable from a
    * crashed one; absence of failure is not success). `timedOut`
    * distinguishes WHY an empty run held: the await expired before the
    * async listener bus delivered anything — a held-but-retriable state,
    * not a recorded failure. */
  final case class Decision(release: Boolean, actions: Int,
                            failures: Seq[String], timedOut: Boolean = false)

  // Status classification PARSES the record as JSON and reads the top-level
  // `status` field — substring matching on the raw text would misread any
  // record whose embedded error message quotes another record's
  // `"status":"failed"`, or miss a serializer that emits `"status": "x"`
  // with whitespace. Jackson ships with Spark. An UNPARSEABLE record (or
  // one with no/unknown status field) classifies as a FAILURE: the gate
  // consumes any transport's records, and a mangled failure report must
  // hold the publish, never release it — a record we cannot read is a
  // record we cannot trust.
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def statusOf(s: String): Option[String] =
    try Option(mapper.readTree(s)).flatMap(n => Option(n.get("status"))).map(_.asText())
    catch { case _: Exception => None }
  private def isFailure(s: String): Boolean =
    !statusOf(s).exists(v => v == "success" || v == "completed" ||
      v == "started" || v == "progress")
  private def isSuccess(s: String): Boolean =
    statusOf(s).exists(v => v == "success" || v == "completed")

  /** Decide from raw status records (batch [[StatusListener]] or streaming
    * [[StreamingStatusListener]] formats — both carry a `status` field). */
  def evaluate(statuses: Seq[String], timedOut: Boolean = false): Decision = {
    val fails = statuses.filter(isFailure)
    Decision(statuses.exists(isSuccess) && fails.isEmpty, statuses.size,
      fails, timedOut)
  }

  /** Bounded wait for the async listener bus to deliver at least one
    * record (QueryExecutionListener events post asynchronously — the same
    * drain rule as `Ingest.runIngestJobObserved`). Returns the records seen; an
    * empty return means the wait EXPIRED — callers feed that into
    * `evaluate(_, timedOut = true)` so a slow bus reads as "timed out",
    * not as a silent hold. The default 2 s is configurable for loaded
    * drivers where completion events land late. */
  def awaitStatuses(listener: StatusListener, timeoutMs: Long = 2000): List[String] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (listener.statuses.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    listener.statuses
  }

  /** Best-effort synchronous drain of the shared listener bus so every
    * already-posted completion event is delivered before the gate reads
    * the listener — removes the loaded-driver race where a clean run's
    * success record lands after `awaitStatuses` gave up.
    * `LiveListenerBus.waitUntilEmpty` is `private[spark]` (public in
    * bytecode), so this goes through reflection; any failure degrades to
    * the bounded poll, never to an exception. */
  def flushListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch { case _: Exception => () }

  /** Drain the listener and produce the gate's full verdict — the entry
    * point for callers that must distinguish a held-by-timeout run
    * (retriable: re-await and re-decide) from a held-by-failure run
    * (terminal: alert). `publishIfClean`/`gatedPublish` route through
    * this, so the publish path and the decision path cannot diverge. */
  def decide(listener: StatusListener, timeoutMs: Long = 2000): Decision = {
    val seen = awaitStatuses(listener, timeoutMs)
    evaluate(seen, timedOut = seen.isEmpty)
  }

  /** Release the snapshot publish ONLY on a clean run: evaluate the
    * listener's (drained) records; publish `df` as the next version of
    * `root` iff the gate releases, stamping the decision into the version
    * `_META`. Returns the published version, or None when the gate held. */
  def publishIfClean(listener: StatusListener, df: DataFrame, root: String,
                     meta: Map[String, String] = Map.empty,
                     timeoutMs: Long = 2000): Option[Long] = {
    val d = decide(listener, timeoutMs)
    if (d.release)
      Some(graft.core.Snapshot.publish(df, root,
        meta + ("gate_actions" -> d.actions.toString)))
    else None
  }

  /** The full gated run: attach a listener, execute `work`, and publish
    * only when BOTH hold — `work` returned (a thrown failure holds the
    * gate even when it never reached execution, e.g. an analysis-time
    * missing-path error that no QueryExecutionListener ever sees) AND the
    * recorded statuses are clean. This is the orchestration shape: the
    * gate owns the run, so no failure class can slip between the work and
    * the decision. Returns the published version, or None when held. */
  def gatedPublish(spark: org.apache.spark.sql.SparkSession,
                   df: => DataFrame, root: String,
                   meta: Map[String, String] = Map.empty)(work: => Unit): Option[Long] = {
    // `df` is by-name: the publishable table typically does not exist
    // until `work` has run (it IS the load's output).
    val listener = StatusListener.attach(spark)
    try {
      val workOk = try { work; true } catch { case _: Throwable => false }
      // Drain the shared bus BEFORE reading the listener: completion
      // events post asynchronously, and on a loaded driver the bounded
      // poll alone can miss a clean run's success record (a safe-direction
      // but flaky false-negative hold).
      flushListenerBus(spark)
      if (workOk) publishIfClean(listener, df, root, meta) else None
    } finally spark.listenerManager.unregister(listener)
  }
}
