package enginebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced run, named after the engine's modules.
  * Every name is reported by every workload (0 where a layer does no
  * work), and the spans plus a per-op breakdown are written beside the
  * result file. Totals are over the timed phase (ops and maintenance
  * calls); `spark.jobs`/`stages`/`tasks` are per timed unit. */
object Layers {
  val Expressions: Seq[String] = Seq("poly_hash", "dot", "cosine", "word_entropy", "first_digit",
    "word_bigrams", "sorted_intersect_count")

  val Units: Seq[(String, String)] = Seq(
    "queries.builder_s" -> "s",
    "spark.plan_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_s" -> "s", "spark.gap_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.task_busy_ratio" -> "ratio", "spark.task_skew" -> "ratio",
    "spark.shuffle_write_mb" -> "MiB", "spark.shuffle_read_mb" -> "MiB", "spark.spill_mb" -> "MiB",
    "spark.input_mb" -> "MiB", "spark.output_mb" -> "MiB",
    "spark.codegen_compile_s" -> "s", "spark.codegen_compile_setup_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.gc_count" -> "count",
    "core.warehouse_build_s" -> "s", "core.warehouse_builds" -> "count",
    "core.publish_s" -> "s", "core.snapshot_read_s" -> "s",
    "sources.ingest_job_small_s" -> "s", "sources.ingest_job_large_s" -> "s",
    "sources.compact_s" -> "s", "sources.files_per_drop" -> "count",
    "sources.quarantine_ratio" -> "ratio", "sources.bytes_per_input_byte" -> "ratio",
    "streaming.notified_load_s" -> "s", "streaming.compact_store_s" -> "s",
    "streaming.redelivery_ratio" -> "ratio", "streaming.store_files" -> "count",
  ) ++ Expressions.flatMap(e => Seq(s"functions.${e}_s" -> "s", s"functions.${e}_builtin_s" -> "s"))

  def unit(name: String): String = Units.find(_._1 == name).map(_._2).getOrElse("")

  def report(ctx: Ctx, work: Workload, codegenTimed: Double, codegenSetup: Double,
      buildsTimed: Int): Unit = {
    val L = ctx.out.layers
    Units.foreach { case (k, _) => L(k) = 0.0 }
    val tr = ctx.tracer
    val recs = ctx.out.recs.toSeq
    val spanById = tr.spans.map(s => s.id -> s).toMap
    val opOf: Int => Int = id => spanById.get(id).map(_.op).getOrElse(-1)
    val jobsByOp = tr.jobSpans.groupBy(j => opOf(j.parent))
    val stagesByOp = tr.stages.toSeq.groupBy(s => opOf(s.span))
    val MiB = 1048576.0

    final case class Row(rec: Main.Rec, builder: Double, plan: Double, jobs: Int, stages: Int,
        tasks: Int, jobS: Double, gapS: Double, cpuS: Double, runS: Double, skew: Option[Double],
        shufW: Long, shufR: Long, spill: Long, in: Long, outB: Long)
    val rows = recs.map { r =>
      val root = spanById(r.span)
      val jobs = jobsByOp.getOrElse(r.span, Nil)
      val stages = stagesByOp.getOrElse(r.span, Nil)
      val iv = jobs.map(j => (j.start, j.end))
      val jobS = Stats.unionLength(iv.map { case (s, e) => (math.max(s, root.start), math.min(e, root.end)) })
      val plan = tr.planPhases.toSeq.filter { case (s, _) => s >= root.start - 1e-3 && s <= root.end + 1e-3 }
        .map { case (s, e) => e - s }.sum
      val builder = tr.spans.filter(s => s.op == r.span && s.name == "queries.builder").map(s => s.end - s.start).sum
      // Skew of the widest stage: its slowest task over its median task.
      val skew = stages.filter(_.taskTimes.nonEmpty).sortBy(s => -s.tasks).headOption.map { s =>
        val m = Stats.median(s.taskTimes)
        if (m > 0) s.taskTimes.max / m else 1.0
      }
      Row(r, builder, plan, jobs.size, stages.size, stages.map(_.tasks).sum, jobS,
        Stats.selfTime(root.start, root.end, iv), stages.map(_.cpuS).sum, stages.map(_.runS).sum, skew,
        stages.map(_.shuffleWriteB).sum, stages.map(_.shuffleReadB).sum, stages.map(_.spillB).sum,
        stages.map(_.inputB).sum, stages.map(_.outputB).sum)
    }
    val units = math.max(rows.size, 1)
    val jobS = rows.map(_.jobS).sum
    L("queries.builder_s") = rows.map(_.builder).sum
    L("spark.plan_s") = rows.map(_.plan).sum
    L("spark.jobs") = rows.map(_.jobs).sum.toDouble / units
    L("spark.stages") = rows.map(_.stages).sum.toDouble / units
    L("spark.tasks") = rows.map(_.tasks).sum.toDouble / units
    L("spark.job_s") = jobS
    L("spark.gap_s") = rows.map(_.gapS).sum
    L("spark.task_cpu_s") = rows.map(_.cpuS).sum
    L("spark.task_busy_ratio") = if (jobS > 0) rows.map(_.runS).sum / (jobS * Main.cpus) else 0.0
    val skews = rows.flatMap(_.skew)
    L("spark.task_skew") = if (skews.isEmpty) 0.0 else Stats.median(skews)
    L("spark.shuffle_write_mb") = rows.map(_.shufW).sum / MiB
    L("spark.shuffle_read_mb") = rows.map(_.shufR).sum / MiB
    L("spark.spill_mb") = rows.map(_.spill).sum / MiB
    L("spark.input_mb") = rows.map(_.in).sum / MiB
    L("spark.output_mb") = rows.map(_.outB).sum / MiB
    L("spark.codegen_compile_s") = codegenTimed
    L("spark.codegen_compile_setup_s") = codegenSetup
    L("jvm.gc_s") = recs.map(_.gcS).sum
    L("jvm.gc_count") = recs.map(_.gcN).sum.toDouble
    L("core.warehouse_build_s") = graft.core.Warehouse.buildSecs.values.asScala.map(_.doubleValue).sum
    L("core.warehouse_builds") = buildsTimed.toDouble
    work.layers(ctx)

    // Per-op breakdown, and per-name medians for ranking queries by layer.
    def opJson(x: Row) = mutable.LinkedHashMap[String, Any](
      "name" -> x.rec.name, "op" -> x.rec.op, "ok" -> x.rec.ok, "wall_s" -> x.rec.wallS,
      "builder_s" -> x.builder, "plan_s" -> x.plan, "jobs" -> x.jobs, "stages" -> x.stages,
      "tasks" -> x.tasks, "job_s" -> x.jobS, "gap_s" -> x.gapS, "task_cpu_s" -> x.cpuS,
      "task_skew" -> x.skew.getOrElse(0.0), "shuffle_write_mb" -> x.shufW / MiB,
      "shuffle_read_mb" -> x.shufR / MiB, "spill_mb" -> x.spill / MiB, "gc_s" -> x.rec.gcS)
    val byName = rows.groupBy(_.rec.name).toSeq.sortBy(_._1).map { case (name, xs) =>
      def med(f: Row => Double) = Stats.median(xs.map(f))
      name -> mutable.LinkedHashMap[String, Any]("n" -> xs.size, "wall_s" -> med(_.rec.wallS),
        "builder_s" -> med(_.builder), "plan_s" -> med(_.plan), "jobs" -> med(_.jobs.toDouble),
        "job_s" -> med(_.jobS), "gap_s" -> med(_.gapS), "task_cpu_s" -> med(_.cpuS),
        "shuffle_mb" -> med(x => (x.shufW + x.shufR) / MiB), "spill_mb" -> med(_.spill / MiB),
        "gc_s" -> med(_.rec.gcS))
    }
    val base = ctx.conf.result.toString
    Files.write(Paths.get(base + ".ops.json"), Json.render(mutable.LinkedHashMap[String, Any](
      "by_name" -> mutable.LinkedHashMap(byName: _*), "ops" -> rows.map(opJson))).getBytes(UTF_8))
    val spanLines = (tr.spans.toSeq ++ tr.jobSpans.map(j => j.copy(op = opOf(j.parent)))).map { s =>
      Json.render(mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start" -> s.start, "end" -> s.end))
    }
    Files.write(Paths.get(base + ".spans.jsonl"), spanLines.mkString("", "\n", "\n").getBytes(UTF_8))
    // Self time per span name over the timed phase: span time not covered
    // by its child spans (jobs included).
    val timedOps = recs.map(_.span).toSet
    val kids = (tr.spans.toSeq ++ tr.jobSpans).groupBy(_.parent)
    val self = tr.spans.toSeq.filter(s => timedOps(s.op)).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => Stats.selfTime(s.start, s.end, kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)))).sum
    }
    ctx.out.detail("span_self_s") = mutable.LinkedHashMap(self.toSeq.sortBy(_._1): _*)
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.toString
  }
}
