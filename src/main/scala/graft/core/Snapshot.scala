package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned atomic table publishing — the executable form of §2.1's
  * commit story ([REF] `Untitled Diagram.drawio:147-149`: load the
  * warehouse copy FIRST, signal availability ONLY after it is complete —
  * readers must never observe a half-published table), on the
  * [[Versioned]] layout: immutable `v=N` directories and a `_CURRENT`
  * pointer whose swap is the ONLY mutation readers see.
  *
  * Publishing never rewrites or appends in place, which gives time-travel
  * reads (`read(root, Some(v))`) and O(1) rollback (`rollback` re-points
  * `_CURRENT` at a prior version; the bad version's files stay on disk for
  * audit) for free. Retention keeps every version. A writer crash before
  * the swap leaves orphan `v=N` files that the next publish ignores
  * (versions only count once recorded in the `_PUBLISHED` manifest) — the
  * fsck is a directory sweep deleting unrecorded versions, never a data
  * repair.
  *
  * Version ALLOCATION is independent of the pointer: a publish stages its
  * data in a hidden temp directory and claims max(on-disk `v=N`) + 1
  * without replacing, retrying one higher when another writer took the
  * slot. So (a) after `rollback(to=1)` the next publish does NOT reuse v=2
  * — published versions stay immutable and a concurrent time-travel read
  * can never observe a torn rewrite; (b) concurrent publishers land on
  * DISTINCT versions, and the pointer swap serializes which one reads as
  * current (last swap wins — all remain readable and recorded).
  *
  * Roots are Hadoop paths on the running session's Hadoop conf; a path
  * without a scheme is local. 100 TB / object-store note: the primitives
  * an object store replaces are [[Versioned]]'s never-replacing pair
  * (create-if-absent, rename-without-replace) and the pointer's overwrite
  * rename — conditional PUTs (If-None-Match / If-Match on `_CURRENT`) or a
  * table-format catalog swap; the reader protocol and every query on top
  * are unchanged. Per-file commit tracking (Iceberg manifests) is
  * deliberately out: MAN-1's relation covers that audit, and one pointer
  * per table is the minimum that makes publish atomic.
  */
object Snapshot {
  private val MANIFEST = "_PUBLISHED"
  private val FSCKLOCK = "_FSCK_LOCK"
  private val META     = "_META"

  /** The table at `root`, on the running session's Hadoop conf (where a
    * non-local scheme is registered). */
  private def table(root: String): Versioned =
    Versioned(new Path(root), Versioned.sessionConf)

  // ---- fsck/publish mutual exclusion (r11; the r10 verdict's task 4) ----
  //
  // fsck deletes data, so "run it offline" must be ENFORCED, not
  // documented. The protocol is the store-barrier pattern on the
  // module's own create-if-absent:
  //
  //   publisher:  create `.publisher-*` intent marker  →  check lease
  //   fsck:       claim `_FSCK_LOCK` lease              →  check markers
  //
  // Each side WRITES its own flag before READING the other's, so every
  // interleaving has at least one side observe the other and back off:
  // if the publisher's lease check saw no lease, its marker was already
  // on disk when fsck's later marker check ran — fsck refuses; if fsck's
  // marker check saw no markers, the lease was already claimed when the
  // publisher's later check ran — the publisher refuses. Crash recovery
  // is same-host pid liveness (on an object store the lease becomes a
  // conditional PUT and liveness a TTL): a lease/marker whose owning pid
  // is dead is reaped by whoever trips over it, so a crashed fsck never
  // wedges publishing and a crashed publisher never wedges fsck.

  // Lock protocol invariants (rename onto a file is NOT a claim: it
  // silently replaces, so two fscks could both "win"):
  //   CLAIM  = Versioned.createIfAbsent (O_EXCL on the local FS), holding
  //            the owner pid. A reader between the create and the write
  //            sees empty content and treats the lease as HELD.
  //   RELEASE = the owner deletes its own lock by path. Safe because no
  //            other actor ever deletes or replaces a LIVE owner's lock
  //            (see REAP), so the path still names the owner's file.
  //   REAP   = on reading a provably-dead pid, move the lock ASIDE to a
  //            unique graveyard name (exactly one reaper wins, losers find
  //            no source and re-read). Between the read and the move the
  //            content cannot have changed hands: claims only go through
  //            createIfAbsent, which fails while the dead file still
  //            occupies the path. The moved-aside file is inert and
  //            deleted by its reaper.
  private def reapDeadLock(t: Versioned, p: Path): Unit = {
    val grave = t.child(
      s".${p.getName}.dead.${ProcessHandle.current().pid()}-${System.nanoTime()}")
    try { if (t.fs.rename(p, grave)) t.fs.delete(grave, false); () }
    catch { case _: java.io.IOException => () } // lost the reap race
  }

  /** Whether the pid written in a lock or marker is alive; None when the
    * content is not a pid (yet). */
  private def pidAlive(txt: String): Option[Boolean] = for {
    pid <- txt.trim.toLongOption
    up  <- scala.util.Try(ProcessHandle.of(pid).isPresent).toOption
  } yield up

  /** Owner pid of the lock at `p`: Some(alive?) when present, None when
    * the lock is absent. Empty/unparsable content reads as ALIVE — the
    * claim's pid write may still be in flight; fail closed — UNLESS the
    * file is over ten minutes old (a claimer that died between the
    * exclusive create and the pid write would otherwise wedge the root
    * forever: its empty lock never parses, so it never reads as dead). */
  private def lockAlive(t: Versioned, p: Path): Option[Boolean] =
    t.read(p).map { txt =>
      pidAlive(txt).getOrElse {
        val age = scala.util.Try(
          System.currentTimeMillis - t.fs.getFileStatus(p).getModificationTime)
        age.toOption.forall(_ < 10L * 60 * 1000)
      }
    }

  /** True iff a LIVE fsck holds the root's lease; a provably-dead
    * owner's lock (crashed fsck, same host) is reaped on the way. */
  private def fsckLeaseHeld(t: Versioned): Boolean = {
    val p = t.child(FSCKLOCK)
    lockAlive(t, p) match {
      case None        => false
      case Some(true)  => true
      case Some(false) => reapDeadLock(t, p); false
    }
  }

  /** Claim the fsck lease via create-if-absent. Returns the release
    * handle. Throws if a live fsck already holds it. Package-visible so
    * SnapshotSpec can hold the lease open across a racing publish. */
  private[graft] def acquireFsckLease(root: String): () => Unit = {
    val t = table(root)
    t.fs.mkdirs(t.root)
    val p = t.child(FSCKLOCK)
    while (!t.createIfAbsent(p, ProcessHandle.current().pid().toString))
      lockAlive(t, p) match {
        case Some(true) =>
          throw new IllegalStateException(s"fsck lease on $root already held")
        case Some(false) => reapDeadLock(t, p)
        case None => () // released meanwhile: claim again
      }
    () => { t.fs.delete(p, false); () }
  }

  /** Run `body` under a publisher intent marker, refusing when a live
    * fsck holds the lease (marker BEFORE check — see the barrier note). */
  private def withPublisherIntent[T](root: String, what: String)(body: Versioned => T): T = {
    val t = table(root)
    t.fs.mkdirs(t.root)
    val intent = t.fresh(".publisher-")
    t.createIfAbsent(intent, ProcessHandle.current().pid().toString)
    try {
      if (fsckLeaseHeld(t))
        throw new IllegalStateException(
          s"$what on $root refused: fsck holds $FSCKLOCK (offline maintenance in progress)")
      body(t)
    } finally { t.fs.delete(intent, false); () }
  }

  /** Versions recorded as committed in the `_PUBLISHED` manifest, in
    * publish order. The manifest is append-only — rollback re-points
    * `_CURRENT` but never erases history, so fsck can tell "committed,
    * later rolled past" apart from "crashed writer's orphan". */
  def publishedVersions(root: String): Seq[Long] = manifest(table(root))

  private def manifest(t: Versioned): Seq[Long] =
    t.read(t.child(MANIFEST)).toSeq.flatMap(_.linesIterator.flatMap(_.trim.toLongOption))

  /** The committed history of a root published by pre-manifest code:
    * publishes were strictly sequential and the pointer never moved
    * backwards, so every disk version ≤ the pointer is committed. */
  private def legacyCommitted(t: Versioned): Seq[Long] =
    t.current.toSeq.flatMap(cur => t.versions.filter(_ <= cur)).sorted

  private def recordPublished(t: Versioned, v: Long): Unit = {
    // Mixed-history upgrade: a root published by pre-manifest code has
    // versions on disk and a pointer but no `_PUBLISHED`. The first
    // post-upgrade publish would otherwise create a manifest containing
    // ONLY the new version, and fsck would read every legacy committed
    // version as an orphan. Backfill first, so the manifest covers the
    // whole committed history.
    val mp = t.child(MANIFEST)
    if (!t.fs.exists(mp)) {
      val legacy = legacyCommitted(t)
      // Atomic CLAIM of the backfill, not check-then-append: two
      // concurrent first-post-upgrade publishers would both pass the
      // exists() check and double-append the legacy ids. Create-if-absent
      // makes exactly one writer create the manifest; the loser proceeds
      // straight to appending its own id. (A stage-and-rename would not
      // do: rename onto an existing file replaces it, erasing ids the
      // winner already appended and exposing them to the fsck sweep.)
      if (legacy.nonEmpty) t.createIfAbsent(mp, legacy.mkString("", "\n", "\n"))
    }
    t.append(mp, s"$v\n")
  }

  /** The published version id, or None if nothing has been published.
    * Torn reads are impossible: the pointer is only ever replaced by an
    * atomic overwrite rename, so its content is always a complete version
    * number. */
  def currentVersion(root: String): Option[Long] = table(root).current

  /** Publish `df` as the next version: write the data fully, then swap
    * the pointer. Returns the published version id.
    *
    * `meta` entries land in a `_META` sidecar INSIDE the version
    * directory BEFORE the pointer moves, so a published version is
    * self-describing (scans ignore underscore-prefixed files). The
    * streaming sink uses this to stamp each version with the epoch that
    * produced it — the replay guard reads it back ([[latestMeta]])
    * instead of keeping sink-side state that could diverge from the
    * store. */
  def publish(df: DataFrame, root: String,
              meta: Map[String, String] = Map.empty): Long =
      withPublisherIntent(root, "publish") { t =>
    // Stage fully OUTSIDE any version slot: parquet write + _META land in
    // a hidden temp directory no reader resolves, so nothing about the
    // slot is observable until the claim.
    val stage = t.fresh(".staging-")
    df.write.mode("overwrite").parquet(stage.toString)
    if (meta.nonEmpty)
      t.write(new Path(stage, META), meta.map { case (k, v) => s"$k=$v" }.mkString("\n"))
    val v = t.claim(stage)
    recordPublished(t, v)
    t.swap(v)
    v
  }

  /** The `_META` sidecar of a version (empty map if none was written). */
  def meta(root: String, v: Long): Map[String, String] = metaOf(table(root), v)

  private def metaOf(t: Versioned, v: Long): Map[String, String] =
    t.read(new Path(t.vdir(v), META)).fold(Map.empty[String, String]) {
      _.linesIterator.filter(_.contains("="))
        .map { l => val Array(k, rest) = l.split("=", 2); k -> rest }.toMap
    }

  /** The `key` entry of the newest committed version whose `_META` has
    * one: the manifest's history scanned newest-first, or — on a root
    * published before the manifest existed, whose history is empty until
    * the next publish backfills it — the legacy-committed versions. A
    * rollback or a plain un-stamped publish can leave the tip without the
    * key while older versions carry it, so the tip alone is not enough. */
  def latestMeta(root: String, key: String): Option[String] = {
    val t = table(root)
    val history = manifest(t)
    val scan = if (history.nonEmpty) history else legacyCommitted(t)
    scan.reverseIterator.flatMap(v => metaOf(t, v).get(key)).nextOption()
  }

  /** Point `_CURRENT` back at an existing, fully-published version — the
    * O(1) bad-deploy undo. Fails fast if the target version's data is
    * absent (rolling back to a never-published id would publish nothing). */
  def rollback(root: String, toVersion: Long): Unit =
      withPublisherIntent(root, "rollback") { t =>
    // Rollback must also respect the fsck lease: fsck's legacy-commit arm
    // reads the pointer (committed iff v ≤ pointer on a pre-manifest
    // root), so a pointer moving DOWN mid-sweep could orphan a legacy
    // version the sweep then deletes.
    require(t.fs.exists(t.vdir(toVersion)),
      s"rollback target v=$toVersion has no data directory under $root")
    t.swap(toVersion)
  }

  /** Read the published version (or a pinned one for time travel). */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val t = table(root)
    val v = version.orElse(t.current).getOrElse(
      sys.error(s"no published version under $root"))
    spark.read.parquet(t.vdir(v).toString)
  }

  /** The declared fsck: sweep orphan `v=N` directories left by crashed
    * writers — a manifest-era version that is on disk but NOT in the
    * `_PUBLISHED` manifest never committed (publish records the id before
    * the pointer swap, so a manifest miss means the writer died
    * mid-claim or the directory was hand-planted). Versions PREDATING the
    * manifest (mixed-history roots) are committed iff ≤ the pointer — the
    * pre-manifest code's own invariant; see the bounded union in the
    * sweep. Committed versions are untouched REGARDLESS of the pointer
    * position — after a rollback, versions above the pointer that were
    * once published are audit/re-roll-forward targets, not garbage. Also
    * sweeps abandoned `.staging-*` temp directories from crashed writers.
    * Returns the removed version ids (staging sweeps are not versioned).
    *
    * EXCLUSIVITY (ENFORCED, r11): fsck claims the `_FSCK_LOCK` lease by
    * create-if-absent and refuses to run while any live publisher intent
    * marker exists; publish/rollback create their marker BEFORE checking
    * the lease, so the two sides cannot both proceed (barrier note at the
    * top of this object). A racing publish therefore fails fast instead
    * of having its just-claimed `v=N` (manifest append still in flight)
    * or live `.staging-*` read as orphaned; a crashed publisher's or
    * fsck's flag is reaped by same-host pid liveness. Throws
    * IllegalStateException when the root is busy — rerun when quiet,
    * exactly like compaction. */
  def fsck(root: String): Seq[Long] = {
    val t = table(root)
    if (!t.fs.exists(t.root)) return Nil
    val release = acquireFsckLease(root)
    try {
      // Reap markers from crashed publishers (dead pid, same host), then
      // refuse if any LIVE publisher is in flight.
      t.names.filter(_.startsWith(".publisher-")).foreach { m =>
        val p = t.child(m)
        if (t.read(p).flatMap(pidAlive).contains(false)) t.fs.delete(p, false)
      }
      val live = t.names.count(_.startsWith(".publisher-"))
      if (live > 0)
        throw new IllegalStateException(
          s"fsck on $root refused: $live publisher(s) in flight")
      fsckSweep(t)
    } finally release()
  }

  private def fsckSweep(t: Versioned): Seq[Long] = {
    // Deleting committed data is the unrecoverable failure mode, so fsck
    // unions two commit invariants — but the legacy arm is BOUNDED so it
    // cannot shelter manifest-era orphans:
    //   committed(v) = v ∈ manifest
    //                ∨ (v ≤ pointer ∧ v < min(manifest))
    // The second arm covers exactly the pre-manifest history: legacy
    // publishes were strictly sequential (pointer never moved backwards)
    // and version ALLOCATION is monotone above every directory that ever
    // existed, so every legacy version sits strictly below the first
    // manifest-recorded id — while a manifest-era crashed writer's orphan
    // was allocated above some already-recorded version and therefore
    // NEVER satisfies v < min(manifest): it is swept as before. The one
    // residual blind spot is a PRE-manifest-era orphan later overtaken by
    // the pointer — indistinguishable from a legacy commit by the legacy
    // code's own invariant, retained exactly as the old fallback retained
    // it (never newly-leaked disk).
    val recorded = manifest(t).toSet
    val minRecorded = if (recorded.isEmpty) Long.MaxValue else recorded.min
    val cur = t.current.getOrElse(Long.MinValue)
    val committed: Long => Boolean =
      v => recorded.contains(v) || (v <= cur && v < minRecorded)
    // The sweep re-reads the manifest immediately before each delete: a
    // publish that appended its id after this fsck's initial snapshot
    // must not have its data swept (narrows, not closes, the race window
    // — see the exclusivity note above).
    t.sweep { n =>
      n.startsWith(".staging-") || Versioned.versionOf(n).exists { v =>
        !committed(v) && !manifest(t).contains(v)
      }
    }.flatMap(Versioned.versionOf).sorted
  }
}
