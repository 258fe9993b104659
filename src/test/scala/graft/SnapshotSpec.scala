package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Snapshot

/** Atomic-publish contract (SURVEY §2.1 SNAP rows; [REF] load-then-signal
  * `:147-149`): readers must never observe a half-published table — not
  * during a publish, not after a writer crash, not across a rollback. */
class SnapshotSpec extends AnyFunSuite {
  import TestSpark._

  private def table(version: Int, rows: Int) = {
    import spark.implicits._
    (1 to rows).map(i => (i.toLong, version)).toDF("id", "v")
  }

  test("publish/read/currentVersion round-trip; versions are immutable") {
    val root = tempDir("snap_rt").toString
    assert(Snapshot.currentVersion(root).isEmpty)
    assert(Snapshot.publish(table(1, 10), root) == 1L)
    assert(Snapshot.currentVersion(root).contains(1L))
    assert(Snapshot.publish(table(2, 20), root) == 2L)
    assert(Snapshot.read(spark, root).agg(count(lit(1)), max(col("v")))
      .head().toSeq == Seq(20L, 2))
    // time travel: v1 unchanged underneath v2
    assert(Snapshot.read(spark, root, Some(1L)).agg(count(lit(1)), max(col("v")))
      .head().toSeq == Seq(10L, 1))
  }

  test("a writer crash after data write but before commit is invisible to readers") {
    val root = tempDir("snap_crash").toString
    Snapshot.publish(table(1, 10), root)
    // Simulated crash: v2 data fully or partially on disk, pointer untouched.
    table(2, 5).write.mode("overwrite").parquet(s"$root/v=2")
    assert(Snapshot.currentVersion(root).contains(1L))
    assert(Snapshot.read(spark, root).agg(max(col("v"))).head().getInt(0) == 1,
      "reader must resolve the pointer, never scan unpointed directories")
    // The next successful publish allocates ABOVE the orphan (never into
    // it — an existing v=N slot is taken, committed or not; fsck is the
    // path that reclaims orphan ids, not publish).
    assert(Snapshot.publish(table(2, 20), root) == 3L)
    assert(Snapshot.read(spark, root).count() == 20L)
  }

  test("rollback re-points at a prior version in O(1); bad targets fail fast") {
    val root = tempDir("snap_rb").toString
    Snapshot.publish(table(1, 10), root)
    Snapshot.publish(table(2, 20), root)
    Snapshot.rollback(root, 1L)
    assert(Snapshot.read(spark, root).agg(count(lit(1)), max(col("v")))
      .head().toSeq == Seq(10L, 1))
    intercept[IllegalArgumentException] { Snapshot.rollback(root, 99L) }
    // Publishing after a rollback continues from the HIGHEST version ever
    // written (max-on-disk + 1 = 3), NEVER reusing the rolled-past v2:
    // version directories are immutable once published, and the bad
    // version's files stay on disk for audit — a concurrent time-travel
    // read of v2 must not race an overwrite.
    assert(Snapshot.publish(table(3, 30), root) == 3L)
    assert(Snapshot.read(spark, root).count() == 30L)
    assert(Snapshot.read(spark, root, Some(2L)).agg(count(lit(1)), max(col("v")))
      .head().toSeq == Seq(20L, 2), "rolled-past v2 stays intact for audit")
    // fsck after the rollback+republish must sweep NOTHING: v2 was
    // committed (it's in the manifest) even though a pointer-relative
    // sweep would have called it orphaned while current pointed at v1.
    assert(Snapshot.fsck(root).isEmpty,
      "fsck must not confuse rolled-past committed versions with orphans")
    assert(Snapshot.publishedVersions(root) == Seq(1L, 2L, 3L))
  }

  test("concurrent publishers claim distinct version slots; both stay readable") {
    val root = tempDir("snap_cas").toString
    Snapshot.publish(table(1, 10), root)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val writers = (2 to 5).map { v =>
      new Thread(() => {
        gate.await()
        try results.add(Snapshot.publish(table(v, v * 10), root))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    writers.foreach(_.start()); gate.countDown(); writers.foreach(_.join(60000))
    assert(errs.isEmpty, s"publishers must not fail under contention: $errs")
    val vs = { import scala.jdk.CollectionConverters._; results.asScala.toSeq.sorted }
    assert(vs == Seq(2L, 3L, 4L, 5L),
      s"4 concurrent publishers must land on 4 DISTINCT versions, got $vs")
    // Every landed version is complete and self-consistent (rows = 10×v
    // of its writer's table) — no last-writer-wins data clobbering.
    vs.foreach { v =>
      val rows = Snapshot.read(spark, root, Some(v)).select(col("v")).collect().map(_.getInt(0))
      assert(rows.distinct.length == 1 && rows.length == rows.head * 10,
        s"v=$v must hold exactly one writer's complete table")
    }
    // The pointer ends on one of the four (whichever swapped last).
    assert(vs.contains(Snapshot.currentVersion(root).get))
  }

  test("fsck sweeps crashed-writer orphans and only them; committed versions survive") {
    val root = tempDir("snap_fsck").toString
    Snapshot.publish(table(1, 10), root)
    Snapshot.publish(table(2, 20), root)
    // Two crashed publishes: data on disk, pointer never swapped.
    table(3, 5).write.mode("overwrite").parquet(s"$root/v=3")
    table(4, 5).write.mode("overwrite").parquet(s"$root/v=4")
    assert(Snapshot.fsck(root) == Seq(3L, 4L))
    assert(!new java.io.File(s"$root/v=3").exists() &&
      !new java.io.File(s"$root/v=4").exists(), "orphans must be deleted")
    // Committed versions untouched: current reads v2, time travel reads v1.
    assert(Snapshot.read(spark, root).count() == 20L)
    assert(Snapshot.read(spark, root, Some(1L)).count() == 10L)
    assert(Snapshot.fsck(root).isEmpty, "a clean store sweeps nothing")
    // The next publish after the sweep takes the reclaimed id.
    assert(Snapshot.publish(table(3, 30), root) == 3L)
    assert(Snapshot.read(spark, root).count() == 30L)
  }

  test("fsck on a mixed-history root keeps pre-manifest committed versions") {
    // ADVICE r9 (medium): versions published by pre-manifest code, then one
    // publish with manifest-writing code — the manifest must not read the
    // legacy committed versions as orphans.
    val root = tempDir("snap_mixed").toString
    Snapshot.publish(table(1, 10), root)
    Snapshot.publish(table(2, 20), root)
    // Simulate legacy history: these two were published by code that
    // predates the `_PUBLISHED` manifest.
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_PUBLISHED"))
    // First post-upgrade publish backfills the manifest from the pointer
    // invariant, so it covers the WHOLE committed history.
    assert(Snapshot.publish(table(3, 30), root) == 3L)
    assert(Snapshot.publishedVersions(root) == Seq(1L, 2L, 3L),
      "post-upgrade publish must backfill legacy committed versions")
    assert(Snapshot.fsck(root).isEmpty,
      "fsck must not sweep pre-manifest committed versions")
    assert(Snapshot.read(spark, root, Some(1L)).count() == 10L)
    assert(Snapshot.read(spark, root, Some(2L)).count() == 20L)

    // Defense-in-depth: even with a PARTIAL manifest (covers only a later
    // version), fsck's union invariant keeps every version ≤ the pointer.
    val root2 = tempDir("snap_mixed2").toString
    Snapshot.publish(table(1, 10), root2)
    Snapshot.publish(table(2, 20), root2)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root2, "_PUBLISHED"), "2\n")
    assert(Snapshot.fsck(root2).isEmpty,
      "union invariant: unrecorded v ≤ pointer is committed, not an orphan")
    assert(Snapshot.read(spark, root2, Some(1L)).count() == 10L)
    // Orphans ABOVE the pointer are still swept on the same root.
    table(4, 5).write.mode("overwrite").parquet(s"$root2/v=4")
    assert(Snapshot.fsck(root2) == Seq(4L))

    // And a manifest-era orphan BELOW the pointer is swept too — the
    // legacy arm is bounded by min(manifest), so it cannot shelter a
    // crashed writer whose slot a later publish overtook: v1 committed
    // (manifest era), crash plants v2, the next publish lands v3 and
    // moves the pointer past the orphan.
    val root3 = tempDir("snap_mixed3").toString
    Snapshot.publish(table(1, 10), root3)
    table(2, 5).write.mode("overwrite").parquet(s"$root3/v=2")
    assert(Snapshot.publish(table(3, 30), root3) == 3L)
    assert(Snapshot.fsck(root3) == Seq(2L),
      "an unrecorded manifest-era version under the pointer is an orphan")
    assert(Snapshot.read(spark, root3).count() == 30L)
    assert(Snapshot.read(spark, root3, Some(1L)).count() == 10L)
  }

  test("fsck sweeps abandoned staging directories from crashed publishers") {
    val root = tempDir("snap_stage").toString
    Snapshot.publish(table(1, 10), root)
    // Crash simulation: a writer died after staging data but before the
    // rename-claim — a hidden .staging-* directory no reader resolves.
    val stage = java.nio.file.Paths.get(root, ".staging-999-123456")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.writeString(stage.resolve("part-0.parquet"), "junk")
    assert(Snapshot.fsck(root).isEmpty, "no versioned orphans to report")
    assert(!java.nio.file.Files.exists(stage), "staging dir must be swept")
    assert(Snapshot.read(spark, root).count() == 10L, "published data untouched")
  }

  test("fsck lease: a held lease blocks publish and rollback; a live publisher blocks fsck; no committed data deleted") {
    // ADVICE/VERDICT r10 task 4: fsck's offline exclusivity is now a
    // rename-as-CAS lease (_FSCK_LOCK) + publisher intent markers, each
    // side writing its own flag before reading the other's — so every
    // interleaving has one side back off.
    import java.nio.file.{Files, Paths}
    val root = tempDir("snap_lease").toString
    Snapshot.publish(table(1, 10), root)
    // 1. fsck holds the lease → publish AND rollback refuse; committed
    //    data and pointer untouched.
    val release = Snapshot.acquireFsckLease(root)
    val e1 = intercept[IllegalStateException] { Snapshot.publish(table(2, 5), root) }
    assert(e1.getMessage.contains("fsck"), e1.getMessage)
    val e2 = intercept[IllegalStateException] { Snapshot.rollback(root, 1L) }
    assert(e2.getMessage.contains("fsck"), e2.getMessage)
    assert(Snapshot.currentVersion(root).contains(1L))
    assert(Snapshot.read(spark, root).count() == 10L,
      "a blocked publish must leave the committed version intact")
    // A second fsck cannot double-claim the lease.
    intercept[IllegalStateException] { Snapshot.acquireFsckLease(root) }
    release()
    // Released → publishing resumes.
    assert(Snapshot.publish(table(2, 20), root) == 2L)
    // 2. A LIVE publisher in flight (intent marker + just-renamed slot
    //    whose manifest append hasn't landed — the exact race the r10
    //    fsck could lose) → fsck refuses wholesale; the in-flight
    //    version's data survives.
    val marker = Paths.get(root, s".publisher-${ProcessHandle.current().pid()}-test")
    Files.writeString(marker, ProcessHandle.current().pid().toString)
    table(3, 5).write.mode("overwrite").parquet(s"$root/v=3")
    val e3 = intercept[IllegalStateException] { Snapshot.fsck(root) }
    assert(e3.getMessage.contains("publisher"), e3.getMessage)
    assert(Files.exists(Paths.get(root, "v=3")),
      "fsck must not delete the in-flight publisher's just-renamed slot")
    assert(!Files.exists(Paths.get(root, "_FSCK_LOCK")),
      "a refused fsck must release its lease")
    // 3. The publisher CRASHED (marker pid dead): fsck reaps the marker
    //    and sweeps the orphan as before.
    Files.delete(marker)
    val deadPid = Iterator.from(3000000)
      .find(p => scala.util.Try(ProcessHandle.of(p.toLong).isEmpty).getOrElse(false))
      .get
    val dead = Paths.get(root, s".publisher-$deadPid-crashed")
    Files.writeString(dead, deadPid.toString)
    assert(Snapshot.fsck(root) == Seq(3L),
      "a dead publisher's marker must not block fsck; its orphan sweeps")
    assert(!Files.exists(dead), "the dead marker must be reaped")
    // 4. A CRASHED fsck's stale lease (dead pid) must not wedge publishing.
    //    (The swept orphan freed slot 3, so allocation reuses it.)
    Files.writeString(Paths.get(root, "_FSCK_LOCK"), deadPid.toString)
    assert(Snapshot.publish(table(4, 5), root) == 3L,
      "a dead fsck's lease must be reaped, not block publishes forever")
    assert(Snapshot.read(spark, root).count() == 5L)
    // 5. Review r11: the claim must be a REAL file-level CAS. A losing
    //    claim must not have replaced the winner's lock (rename onto a
    //    file silently replaces on POSIX — the bug the createFile claim
    //    fixes), so after the winner releases, the lock is GONE, not a
    //    zombie copy of the loser's.
    val rel2 = Snapshot.acquireFsckLease(root)
    intercept[IllegalStateException] { Snapshot.acquireFsckLease(root) }
    rel2()
    assert(!Files.exists(Paths.get(root, "_FSCK_LOCK")),
      "after release, no losing claimer's lock may remain")
    assert(Snapshot.publish(table(5, 2), root) > 0L)
    // 6. A claimer that died between createFile and the pid write leaves
    //    an EMPTY lock: fresh → held (the write may be in flight); aged
    //    past the escape hatch → reaped, publishing resumes.
    val lock = Paths.get(root, "_FSCK_LOCK")
    Files.createFile(lock)
    intercept[IllegalStateException] { Snapshot.publish(table(6, 2), root) }
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 11L * 60 * 1000))
    assert(Snapshot.publish(table(6, 2), root) > 0L,
      "an aged empty lock (claimer died mid-claim) must not wedge the root")
  }

  test("lease protocol under concurrent fsck/publish stress: one holder, no committed version lost") {
    // The r11 review proved the original move-based claim let two fscks
    // both "win" (rename onto a file replaces on POSIX). This drives the
    // createFile-claim protocol hard: concurrent lease claimers must
    // never BOTH hold it, real fsck() calls must refuse (not sweep)
    // around live publishers, and every publish that RETURNED an id must
    // still have its data and manifest entry at the end.
    import java.nio.file.{Files, Paths}
    import java.util.concurrent.atomic.AtomicInteger
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = tempDir("snap_stress").toString
    Snapshot.publish(table(1, 5), root)
    val holders = new AtomicInteger(0)
    val maxHolders = new AtomicInteger(0)
    val leaseWins = new AtomicInteger(0)
    val published = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val leasers = (1 to 2).map(_ => Future {
      (1 to 20).foreach { _ =>
        try {
          val release = Snapshot.acquireFsckLease(root)
          try {
            val h = holders.incrementAndGet()
            maxHolders.updateAndGet(m => math.max(m, h))
            leaseWins.incrementAndGet()
            Thread.sleep(1)
          } finally { holders.decrementAndGet(); release() }
        } catch { case _: IllegalStateException => () }
      }
    })
    val sweepers = (1 to 2).map(_ => Future {
      (1 to 8).foreach { _ =>
        try { Snapshot.fsck(root); () }
        catch { case _: IllegalStateException => () } // busy root: refused
        Thread.sleep(1)
      }
    })
    val publishers = (1 to 3).map(i => Future {
      (1 to 8).foreach { k =>
        try { published.add(Snapshot.publish(table(i * 100 + k, 3), root)); () }
        catch { case _: IllegalStateException => () } // fsck held the lease
      }
    })
    Await.result(Future.sequence(leasers ++ sweepers ++ publishers), 180.seconds)
    pool.shutdown()
    assert(maxHolders.get() == 1,
      s"${maxHolders.get()} concurrent lease holders — the claim is not exclusive")
    assert(leaseWins.get() > 0, "no lease was ever won — vacuous run")
    assert(published.size > 0, "no publish ever succeeded — vacuous run")
    import scala.jdk.CollectionConverters._
    val manifest = Snapshot.publishedVersions(root).toSet
    published.asScala.foreach { v =>
      assert(Files.exists(Paths.get(root, s"v=$v")),
        s"published v=$v lost its data directory under the race")
      assert(manifest.contains(v),
        s"published v=$v missing from the manifest under the race")
    }
    assert(!Files.exists(Paths.get(root, "_FSCK_LOCK")),
      "no lease may survive the stress run")
  }

  test("snap_diff: total key classification; the derived changelog applied to v1 reconstructs v2") {
    val dir = graft.queries.Ingestion.diffOrders(spark, TestSpark.sfDir)
    val diff = SparkEntry.queries("snap_diff")(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3))))
    assert(diff.map(_._1).distinct.length == diff.length, "one verdict per key")
    def rows(v: Long) = Snapshot.read(spark, dir, Some(v))
      .select(col("o_orderkey"),
        graft.core.Tables.dec4S(col("o_totalprice")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (m1, m2) = (rows(1L), rows(2L))
    assert(diff.map(_._1).toSet == (m1.keySet ++ m2.keySet), "classification totality")
    diff.foreach {
      case (k, "added", pb, pa) =>
        assert(pb.isEmpty && !m1.contains(k) && m2.get(k) == pa, s"added $k")
      case (k, "removed", pb, pa) =>
        assert(pa.isEmpty && m1.get(k) == pb && !m2.contains(k), s"removed $k")
      case (k, "changed", pb, pa) =>
        assert(m1.get(k) == pb && m2.get(k) == pa && pb != pa, s"changed $k")
      case (k, "unchanged", pb, pa) =>
        assert(m1.get(k) == pb && m2.get(k) == pa && pb == pa, s"unchanged $k")
      case other => fail(s"unknown change kind: $other")
    }
    assert(Seq("added", "removed", "changed", "unchanged")
      .forall(kind => diff.exists(_._2 == kind)), "every diff kind fires")
    // The round-trip that makes the diff a CHANGELOG: apply it to v1.
    val applied = m1 -- diff.collect { case (k, "removed", _, _) => k } ++
      diff.collect { case (k, kind, _, Some(pa))
        if kind == "added" || kind == "changed" => k -> pa }
    assert(applied == m2, "v1 + diff must reconstruct v2 exactly")
  }

  test("concurrent readers during repeated publishes only ever see complete versions") {
    // The atomicity sweep: a reader loop races 9 publishes. Every read
    // must surface ONE complete version — correct row count for the
    // version tag it carries, single distinct tag — and the observed
    // version sequence must be monotone (the pointer never goes back in
    // time during forward publishing).
    val root = tempDir("snap_race").toString
    Snapshot.publish(table(1, 100), root)
    @volatile var failure: Option[String] = None
    @volatile var stop = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val reader = new Thread(() => {
      var last = 0
      while (!stop && failure.isEmpty) {
        val rows = Snapshot.read(spark, root).select(col("v")).collect().map(_.getInt(0))
        val tags = rows.distinct
        if (tags.length != 1)
          failure = Some(s"mixed versions in one read: ${tags.mkString(",")}")
        else if (rows.length != tags.head * 100)
          failure = Some(s"v${tags.head} read ${rows.length} rows, expected ${tags.head * 100}")
        else if (tags.head < last)
          failure = Some(s"pointer went backwards: v$last then v${tags.head}")
        else { last = tags.head; seen.add(tags.head) }
      }
    })
    reader.start()
    (2 to 10).foreach(v => Snapshot.publish(table(v, v * 100), root))
    // Let the reader observe the final state at least once, then stop.
    Thread.sleep(300)
    stop = true
    reader.join(30000)
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(seen.size() > 0 && seen.contains(10),
      s"reader must have observed the final version; saw ${seen}")
  }

  // ---- The single-writer contract on a non-`file:` scheme ---------------
  //
  // `graftlocal:` (GraftLocalFileSystem) is the local disk under another
  // scheme, so the commit layer takes its Hadoop branch (`FileContext`
  // renames, `create(overwrite = false)`), the one HDFS takes. The two
  // concurrency stress tests above stay on `file:`: the test scheme is
  // only as atomic as its local backing (exists-then-open create,
  // delete-then-rename overwrite), so racing it would test the fake.

  /** A fresh `graftlocal:` root and the local directory behind it. */
  private def graftRoot(prefix: String): (String, java.nio.file.Path) = {
    GraftLocalFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val dir = tempDir(prefix)
    (s"${GraftLocalFileSystem.Scheme}:$dir", dir)
  }

  test("graftlocal: round-trip, time travel, _META, rollback and a no-reuse republish") {
    val (root, dir) = graftRoot("gsnap_rt")
    val renames = GraftLocalFileSystem.renames.get
    assert(Snapshot.currentVersion(root).isEmpty)
    assert(Snapshot.publish(table(1, 10), root, Map("epoch" -> "7")) == 1L)
    assert(Snapshot.publish(table(2, 20), root) == 2L)
    assert(GraftLocalFileSystem.renames.get >= renames + 4,
      "slot claims and pointer swaps must go through FileContext")
    assert(java.nio.file.Files.readString(dir.resolve("_CURRENT")) == "2")
    assert(Snapshot.read(spark, root).agg(count(lit(1)), max(col("v")))
      .head().toSeq == Seq(20L, 2))
    assert(Snapshot.read(spark, root, Some(1L)).count() == 10L)
    assert(Snapshot.meta(root, 1L) == Map("epoch" -> "7"))
    assert(Snapshot.latestMeta(root, "epoch").contains("7"))
    Snapshot.rollback(root, 1L)
    assert(Snapshot.read(spark, root).count() == 10L)
    intercept[IllegalArgumentException] { Snapshot.rollback(root, 99L) }
    assert(Snapshot.publish(table(3, 30), root) == 3L)
    assert(Snapshot.read(spark, root, Some(2L)).count() == 20L)
    assert(Snapshot.fsck(root).isEmpty)
    assert(Snapshot.publishedVersions(root) == Seq(1L, 2L, 3L))
  }

  test("graftlocal: a crashed writer is invisible; fsck sweeps its orphans and staging, never a committed version") {
    val (root, dir) = graftRoot("gsnap_crash")
    Snapshot.publish(table(1, 10), root)
    Snapshot.publish(table(2, 20), root)
    table(3, 5).write.mode("overwrite").parquet(s"$root/v=3")
    assert(Snapshot.read(spark, root).agg(max(col("v"))).head().getInt(0) == 2)
    assert(Snapshot.publish(table(4, 40), root) == 4L, "allocation goes above the orphan")
    table(5, 5).write.mode("overwrite").parquet(s"$root/v=5")
    val stage = dir.resolve(".staging-999-123456")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.writeString(stage.resolve("part-0.parquet"), "junk")
    assert(Snapshot.fsck(root) == Seq(3L, 5L))
    assert(Seq("v=3", "v=5", ".staging-999-123456")
      .forall(n => !java.nio.file.Files.exists(dir.resolve(n))))
    assert(Snapshot.read(spark, root).count() == 40L)
    assert(Snapshot.read(spark, root, Some(1L)).count() == 10L)
    assert(Snapshot.read(spark, root, Some(2L)).count() == 20L)
    assert(Snapshot.fsck(root).isEmpty)
  }

  test("graftlocal: the first post-upgrade publish backfills a pre-manifest history") {
    val (root, dir) = graftRoot("gsnap_mixed")
    Snapshot.publish(table(1, 10), root)
    Snapshot.publish(table(2, 20), root)
    java.nio.file.Files.delete(dir.resolve("_PUBLISHED"))
    assert(Snapshot.publish(table(3, 30), root) == 3L)
    assert(Snapshot.publishedVersions(root) == Seq(1L, 2L, 3L))
    assert(Snapshot.fsck(root).isEmpty)
    assert(Snapshot.read(spark, root, Some(1L)).count() == 10L)
    assert(Snapshot.read(spark, root, Some(2L)).count() == 20L)
  }
}
