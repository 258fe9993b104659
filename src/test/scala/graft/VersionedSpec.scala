package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Versioned

/** The never-replacing steps of the shared `v=N` + `_CURRENT` commit layer,
  * on `file:`. Each test fails or flakes against Hadoop's local calls:
  * `create(overwrite = false)` is exists-then-open, `rename` onto an
  * existing file replaces it, and `rename` onto a non-empty directory nests
  * the source inside it. */
class VersionedSpec extends AnyFunSuite {
  import TestSpark._

  private def table(prefix: String): Versioned =
    Versioned(new Path(tempDir(prefix).toString), spark.sparkContext.hadoopConfiguration)

  test("createIfAbsent leaves an existing file alone; 8 racing threads x 200 rounds give one winner per round") {
    val t = table("ver_create")
    val p = t.child("lock")
    assert(t.createIfAbsent(p, "first"))
    assert(!t.createIfAbsent(p, "second"))
    assert(t.read(p).contains("first"), "a losing create must not touch the content")

    val (threads, rounds) = (8, 200)
    val wins = new AtomicInteger()
    val winner = new AtomicInteger(-1)
    val bad = new ConcurrentLinkedQueue[String]()
    var round = 0
    val start = new CyclicBarrier(threads, () => {
      t.fs.delete(p, false); wins.set(0); winner.set(-1)
    })
    val end = new CyclicBarrier(threads, () => {
      if (wins.get != 1) bad.add(s"round $round: ${wins.get} winners")
      else if (!t.read(p).contains(s"t${winner.get}"))
        bad.add(s"round $round: content ${t.read(p)} is not winner t${winner.get}'s")
      round += 1
    })
    val workers = (0 until threads).map { i =>
      new Thread(() => (1 to rounds).foreach { _ =>
        start.await()
        if (t.createIfAbsent(p, s"t$i")) { wins.incrementAndGet(); winner.set(i) }
        end.await()
      })
    }
    workers.foreach(_.start()); workers.foreach(_.join(120000))
    assert(round == rounds, s"only $round of $rounds rounds completed")
    assert(bad.isEmpty, bad.toString)
  }

  test("a slot claim onto an existing non-empty v=N never nests: the data lands at v=N+1") {
    val t = table("ver_claim")
    t.fs.mkdirs(t.vdir(1L))
    t.write(new Path(t.vdir(1L), "part-0"), "one")
    def listing(v: Long) = t.fs.listStatus(t.vdir(v)).map(_.getPath.getName).toSet
    val before = listing(1L)
    val stage = t.fresh(".staging-")
    t.fs.mkdirs(stage)
    t.write(new Path(stage, "part-0"), "two")
    assert(t.claimFrom(stage, 1L) == 2L, "a taken slot must send the claim one higher")
    assert(listing(1L) == before, "the taken slot's listing must not change")
    assert(t.read(new Path(t.vdir(2L), "part-0")).contains("two"))
    assert(!t.fs.exists(stage), "the staged data must have moved")
    // Allocation starts above every version on disk.
    val stage2 = t.fresh(".staging-")
    t.fs.mkdirs(stage2)
    t.write(new Path(stage2, "part-0"), "three")
    assert(t.claim(stage2) == 3L)
  }

  test("bootstrap racing a pointer that already reads 2 leaves it at 2") {
    val t = table("ver_boot")
    t.fs.mkdirs(t.vdir(2L))
    t.swap(2L)
    assert(t.bootstrapPointer() == 2L)
    assert(t.current.contains(2L))
    assert(t.read(t.child(Versioned.Pointer)).contains("2"))
    assert(t.bootstrap() == 2L)
    // A store with no pointer bootstraps v=1.
    val fresh = table("ver_boot_fresh")
    assert(fresh.bootstrap() == 1L && fresh.fs.exists(fresh.vdir(1L)))
    assert(fresh.current.contains(1L))
  }
}
