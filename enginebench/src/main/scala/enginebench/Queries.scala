package enginebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._

object Queries {
  /** Star-schema, statistics and events queries: short, planning- and
    * shuffle-bound. */
  val Relational: Seq[String] = Seq("agg1", "join2", "win1", "srt1", "pvt1", "quantile_bin",
    "corr_matrix", "funnel", "cdc_apply", "skyline")

  /** LLM-curation queries: job-, pin- and text-allocation-heavy. */
  val Corpus: Seq[String] = Seq("ddp_minhash", "sim2", "ivf_pq", "txt_quality", "lm_score",
    "dcn_bloom")

  /** Expected digests, one `tablesVersion<TAB>query<TAB>rows<TAB>hash` per line. */
  def readDigests(path: java.nio.file.Path): Map[String, (Long, String)] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path, UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).collect {
        case Array(v, q, n, h) if v == Gen.TablesVersion => q -> (n.toLong, h)
      }.toMap
}

/** The closed query loop: one analyst building each query of the mix and
  * writing it to the `noop` sink, in a seeded order per pass. One timed
  * pass per 10 s of `--seconds`, so a given `run_seconds` is always the
  * same amount of work. */
final class Queries(c: Main.Config, mix: Seq[String]) extends Workload {
  private val builders = graft.SparkEntry.queries
  /** Gated queries without a DuckDB twin are the approximate ones: their
    * values may legitimately vary, so only the row count is checked. */
  private val rowsOnly = builders.keySet -- graft.SparkEntry.oracleSql.keySet
  private var resultRows = Map.empty[String, Long]

  def passes: Int = math.max(1, math.round(c.seconds / 10.0).toInt)

  /** The tables are made once per checkout by `Main generate`. */
  def generate(): Unit = ()

  /** Two untimed passes in the mix's own order. In the first each query
    * runs as a timed op does (eager pins, `Warehouse.once` builds, codegen
    * of the `noop` write) with its result digest observed on that write;
    * the second lets the JIT settle: without it the first timed pass ran
    * 10-25 % slower than the next, by a different amount in every JVM. */
  def warm(ctx: Ctx): Unit = {
    val expected = Queries.readDigests(c.digests)
    val seen = Seq.newBuilder[String]
    mix.foreach { q =>
      ctx.timed(q, op = true) {
        val (n, h) = Stats.digest(builders(q)(ctx.spark, c.tables))
        resultRows += q -> n
        seen += s"${Gen.TablesVersion}\t$q\t$n\t$h"
        if (c.record) true
        else expected.get(q) match {
          case Some((en, eh)) if en == n && (eh == h || rowsOnly(q)) => true
          case Some((en, eh)) => ctx.fail(s"$q digest ($n, $h) != expected ($en, $eh)"); false
          case None => ctx.fail(s"$q has no expected digest"); false
        }
      }
    }
    if (c.record) {
      val others = if (!Files.exists(c.digests)) Nil
        else Files.readAllLines(c.digests, UTF_8).asScala.toSeq
          .filterNot(l => l.split("\t").lift(1).exists(mix.contains))
      Files.write(c.digests, (others ++ seen.result()).sorted.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    mix.foreach(q => ctx.timed(q, op = true)(runOp(ctx, q)))
  }

  /** One op: build the query, write it to `noop`. */
  private def runOp(ctx: Ctx, q: String): Boolean = {
    val df = ctx.tracer.span("queries.builder")(builders(q)(ctx.spark, c.tables))
    ctx.tracer.span("spark.action")(df.write.format("noop").mode("overwrite").save())
    true
  }

  def timed(ctx: Ctx): Unit = {
    val rnd = new scala.util.Random(c.seed)
    for (_ <- 0 until passes; q <- rnd.shuffle(mix)) {
      ctx.timed(q, op = true) {
        ctx.out.rows += resultRows.getOrElse(q, 0L)
        runOp(ctx, q)
      }
    }
    ctx.out.detail("passes") = passes
    ctx.out.detail("mix") = mix
    ctx.out.detail("digest_rows_only") = mix.filter(rowsOnly)
  }

  def layers(ctx: Ctx): Unit = ()
}
