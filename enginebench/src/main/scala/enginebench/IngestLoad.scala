package enginebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.Snapshot
import graft.sources.Ingest
import graft.streaming.StreamOps

/** The paper's write path as one partner queue: each drop is landed with
  * `Ingest.runIngestJobObserved` (an op); after every cycle of drops a
  * maintenance cycle announces them, with seeded duplicate notifications,
  * to the `_src`-keyed store (`StreamOps.runNotifiedLoad`), compacts that
  * store and the warehouse, and publishes then reads back a per-category
  * snapshot. Maintenance calls are timed into `wall_s` but are not ops. */
final class IngestLoad(c: Main.Config) extends Workload {
  /** One timed cycle per 10 s of `--seconds`. One smaller untimed cycle
    * runs first, after [[PrimeLandings]] untimed landings of its drops
    * (each twice): with only that cycle before timing, the first timed
    * drops ran up to a third slower than the last. */
  val timedCycles: Int = math.max(1, math.round(c.seconds / 10.0).toInt)
  val PrimeLandings = 6

  private val root = c.runDir.resolve("ingest")
  private def csv(d: Gen.Drop) = root.resolve(s"drops/d${d.index}.csv")
  private def landing(d: Gen.Drop) = root.resolve(s"wh/landing/drop=${d.index}").toString
  private def compacted(d: Gen.Drop) = root.resolve(s"wh/compacted/drop=${d.index}").toString
  private def quarantine(d: Gen.Drop) = root.resolve(s"wh/quarantine/drop=${d.index}").toString
  private val queue = root.resolve("queue")
  private val store = root.resolve("store").toString
  private val snapRoot = root.resolve("snapshot")

  private var cycles: Seq[Seq[Gen.Drop]] = Nil
  private val announced = scala.collection.mutable.LinkedHashSet[Int]()
  private var cleanLanded = 0L
  // Files each timed drop wrote; rows the timed cycles delivered to the
  // store for the first time and rows they announced again.
  private val dropFiles = scala.collection.mutable.ArrayBuffer[Int]()
  private var timedRows, timedBad, delivered, redelivered = 0L

  def generate(): Unit = {
    cycles = Gen.drops(c.seed, timedCycles)
    Files.createDirectories(root.resolve("drops"))
    Files.createDirectories(queue)
    Files.createDirectories(snapRoot)
    cycles.flatten.foreach(d => Files.write(csv(d), d.bytes))
  }

  def warm(ctx: Ctx): Unit = {
    // Lands into a scratch warehouse that nothing else reads, then drops it.
    (0 until PrimeLandings).foreach { i =>
      val d = cycles.head(i % cycles.head.size)
      val dir = root.resolve(s"prime/$i")
      val r = Ingest.runIngestJobObserved(ctx.spark, csv(d).toString, Gen.DropSchema,
        dir.resolve("landing").toString, dir.resolve("quarantine").toString)
      ctx.check(s"prime landing $i of drop ${d.index}") { r.rowsRead == d.rows && r.rowsQuarantined == d.bad }
      ctx.release()
    }
    deleteTree(root.resolve("prime"))
    cycle(ctx, 0, timed = false)
  }

  def timed(ctx: Ctx): Unit = {
    (1 to timedCycles).foreach(k => cycle(ctx, k, timed = true))
    ctx.out.detail("cycles") = timedCycles
    ctx.out.detail("drops_timed") = cycles.drop(1).map(_.size).sum
  }

  private def cycle(ctx: Ctx, k: Int, timed: Boolean): Unit = {
    val spark = ctx.spark
    val mine = cycles(k)
    mine.foreach { d =>
      ctx.timed(if (d.large) "drop_large" else "drop_small", op = true) {
        val r = ctx.tracer.span("sources.ingest_job")(Ingest.runIngestJobObserved(
          spark, csv(d).toString, Gen.DropSchema, landing(d), quarantine(d)))
        cleanLanded += r.rowsWritten
        if (timed) {
          ctx.out.rows += r.rowsRead
          timedRows += r.rowsRead
          timedBad += r.rowsQuarantined
          dropFiles += parquetFiles(landing(d))
        }
        val ok = r.rowsRead == d.rows && r.rowsQuarantined == d.bad
        if (!ok) ctx.fail(s"drop ${d.index}: read ${r.rowsRead}/${d.rows}, bad ${r.rowsQuarantined}/${d.bad}")
        ok
      }
    }
    // Notifications: this cycle's drops, one repeated inside the manifest
    // (deduplicated within the micro-batch) and, after the first cycle, one
    // drop of the previous cycle announced again (its partition is rewritten).
    val rnd = new java.util.SplittableRandom(c.seed * 7919L + k)
    val again = if (k == 0) Nil else Seq(cycles(k - 1)(rnd.nextInt(cycles(k - 1).size)))
    val lines = (mine :+ mine(rnd.nextInt(mine.size))) ++ again
    Files.write(queue.resolve(f"m$k%04d.txt"), lines.map(d => csv(d).toString).mkString("", "\n", "\n").getBytes(UTF_8))
    if (timed) {
      delivered += mine.map(_.rows.toLong).sum
      redelivered += again.map(_.rows.toLong).sum
    }
    announced ++= mine.map(_.index)
    ctx.timed("notified_load", op = false) {
      StreamOps.runNotifiedLoad(spark, queue.toString, Gen.DropSchema, store,
        root.resolve("checkpoint").toString, format = "csv")
      true
    }
    ctx.timed("compact_store", op = false) {
      StreamOps.compactStore(spark, store, Seq("id"), Seq("_src"))
      true
    }
    val expectRows = cycles.flatten.filter(d => announced(d.index)).map(_.rows.toLong).sum
    ctx.check(s"cycle $k: store holds exactly the $expectRows distinct ids") {
      val r = StreamOps.readStore(spark, store).agg(count(lit(1)), countDistinct(col("id"))).head()
      r.getLong(0) == expectRows && r.getLong(1) == expectRows
    }
    ctx.release()
    ctx.timed("compact", op = false) {
      mine.foreach { d =>
        Ingest.compact(spark, landing(d), compacted(d))
        deleteTree(Path.of(landing(d)))
      }
      true
    }
    ctx.timed("publish", op = false) {
      val agg = spark.read.parquet(root.resolve("wh/compacted").toString)
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n"), sum(col("amount").cast("decimal(38,2)")).as("amount"))
      Snapshot.publish(agg, snapRoot.toString)
      true
    }
    ctx.timed("snapshot_read", op = false) {
      val r = Snapshot.read(spark, snapRoot.toString).agg(count(lit(1)), sum(col("n"))).head()
      val ok = r.getLong(0) <= Gen.Categories.length && r.getLong(1) == cleanLanded
      if (!ok) ctx.fail(s"cycle $k: snapshot holds ${r.getLong(1)} rows, $cleanLanded landed")
      ok
    }
  }

  def layers(ctx: Ctx): Unit = {
    val L = ctx.out.layers
    val recs = ctx.out.recs
    def total(name: String) = recs.filter(_.name == name).map(_.wallS).sum
    val jobSpan = ctx.tracer.spans.filter(_.name == "sources.ingest_job").map(s => s.op -> (s.end - s.start)).toMap
    def jobMedian(name: String) = {
      val xs = recs.filter(_.name == name).flatMap(r => jobSpan.get(r.span))
      if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    }
    L("sources.ingest_job_small_s") = jobMedian("drop_small")
    L("sources.ingest_job_large_s") = jobMedian("drop_large")
    L("sources.compact_s") = total("compact")
    L("sources.files_per_drop") = dropFiles.sum.toDouble / math.max(dropFiles.size, 1)
    L("sources.quarantine_ratio") = timedBad.toDouble / math.max(timedRows, 1L)
    val inputBytes = cycles.flatten.map(_.bytes.length.toLong).sum
    L("sources.bytes_per_input_byte") =
      Seq(root.resolve("wh"), Path.of(store), snapRoot).map(treeBytes).sum.toDouble / inputBytes
    L("streaming.notified_load_s") = total("notified_load")
    L("streaming.compact_store_s") = total("compact_store")
    // Rows the notified loads wrote beyond the rows newly delivered.
    val loadSpans = recs.filter(_.name == "notified_load").map(_.span).toSet
    val loadOps = ctx.tracer.spans.filter(s => loadSpans(s.op)).map(_.id).toSet
    val written = ctx.tracer.stages.filter(s => loadOps(s.span)).map(_.outputRows).sum
    L("streaming.redelivery_ratio") = (written - delivered).toDouble / math.max(delivered, 1L)
    ctx.out.detail("redelivery_expected") = redelivered.toDouble / math.max(delivered, 1L)
    L("streaming.store_files") = parquetFiles(StreamOps.storeDataDir(ctx.spark, store)).toDouble
    L("core.publish_s") = total("publish")
    L("core.snapshot_read_s") = total("snapshot_read")
  }

  private def files(dir: String): Seq[Path] = {
    val p = Path.of(dir.stripPrefix("file:"))
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close() }
  }
  private def parquetFiles(dir: String): Int = files(dir).count(_.getFileName.toString.endsWith(".parquet"))
  private def treeBytes(p: Path): Long = files(p.toString).map(Files.size).sum
  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }
}
