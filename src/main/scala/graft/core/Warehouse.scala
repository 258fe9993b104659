package graft.core

/** Build-once derived datasets for gated queries (the partitioned-orders
  * copy, the ORC warehouse copy): one write per (process, source dir),
  * repeated queries (Verify's sequential run, Bench's best-of-2) re-read
  * the same files.
  *
  * The output path embeds the FULL source path twice — a readable sanitized
  * stem plus the exact string's hash — so two distinct source dirs can
  * never collide on one output (a lossy sanitize alone maps `/x/sf0.1` and
  * `/x/sf0_1` to the same dir, and the second build would silently clobber
  * the first while its cache entry still pointed there). The pid is
  * included so concurrent processes (a Bench and a Verify on the same
  * testdata) each build their own copy instead of overwriting the files
  * the other is mid-scan on.
  */
object Warehouse {
  /** Memoized build slot: the map only ever stores cheap cells (created
    * under `computeIfAbsent`'s bin lock), and the EXPENSIVE write runs
    * under the cell's own `lazy val` lock — so two concurrent builds of
    * unrelated datasets that happen to share a hash bin never serialize
    * on each other's multi-minute writes, and a build that transitively
    * triggers another `once` (a derived dataset) cannot hit
    * ConcurrentHashMap's recursive-update failure mode. */
  private final class Cell(thunk: () => String) { lazy val value: String = thunk() }

  private val built = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** Per-build wall seconds, keyed by dataset name, recorded as each
    * [[once]] body completes. Bench's untimed pre-pass reads this after
    * forcing every registered build so the board JSON can ship
    * `"builds"` separately from query samples (r13 verdict task 3:
    * one-time builds were landing inside whichever query ran first —
    * stderr-stamped but invisible to floor adjudication). */
  val buildSecs = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  // Every dir this process builds is deleted at JVM exit: the pid suffix
  // that isolates concurrent processes also means no other process can be
  // reading our copies, so cleanup is always safe — and without it every
  // Bench/Verify run leaves another orders-sized copy in /tmp forever. A
  // finished build is registered with `deleteOnExit` on its path's own
  // file system, the one its write went through; Hadoop's file-system
  // cache closes at shutdown and deletes it. A build still being written
  // at exit leaves its partial dir (pid-suffixed, never read by another
  // process).
  def once(srcDir: String, name: String)(write: String => Unit): String =
    built.computeIfAbsent(s"$name|$srcDir", _ => new Cell(() => {
      val stem = srcDir.replaceAll("[^A-Za-z0-9]", "_").takeRight(40)
      val key = f"${srcDir.hashCode}%08x"
      val pid = ProcessHandle.current().pid()
      val out = s"${sys.props("java.io.tmpdir")}/graft_warehouse/${name}_${stem}_${key}_$pid"
      val t0 = System.nanoTime()
      write(out)
      // Build-cost observability: memoized builds hide inside whichever
      // query runs first; the one-line stderr stamp keeps the amortized
      // term attributable when reading Bench/Prof output, and the
      // buildSecs entry lets Bench ship the cost in the board JSON.
      val secs = (System.nanoTime() - t0) / 1e9
      // `deleteOnExit` registers only a path that exists, and a build may
      // leave its dir for the caller to fill after `once` returns
      // (bucket_tables' per-session `saveAsTable`).
      val dir = new org.apache.hadoop.fs.Path(out)
      val fs = dir.getFileSystem(Versioned.sessionConf)
      fs.mkdirs(dir)
      fs.deleteOnExit(dir)
      buildSecs.put(name, secs)
      System.err.println(f"[warehouse] built $name in $secs%.2f s ($srcDir)")
      out
    })).value
}
