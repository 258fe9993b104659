package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** In-engine invariants for the STAT/DQ statistics family
  * (`queries/Stats.scala`). Cross-engine value equality is the oracle
  * gate's job; these tests pin the semantics the oracle can't see:
  * corr_matrix must agree with Spark's own `corr()`, ab_lift's z must be
  * internally consistent, dq_benford must stay a total 9-digit spine.
  */
class StatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("corr_matrix: moment-sum corr matches Spark's builtin corr per pair") {
    val got = graft.queries.Stats.all("corr_matrix")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2).toDouble).toMap
    assert(got.size == 6)
    val li = graft.core.Tables.load(spark, TestSpark.sfDir, "lineitem")
    got.foreach { case ((a, b), c) =>
      // builtin corr: different accumulation (co-moment streaming), same
      // statistic. The query's output is tie-safe rounded to 4 decimals,
      // so the bound is the half-ulp of that rounding (5e-5) plus algebra
      // slack — anything structurally wrong is off by far more.
      val ref = li.agg(corr(col(a), col(b))).head().getDouble(0)
      assert(math.abs(c - ref) < 6e-5, s"($a,$b): $c vs builtin $ref")
      assert(math.abs(c) <= 1.0 + 1e-9)
    }
  }

  test("anova_f: identical group distributions give F near 0; replay + decomposition hold") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("anova_zero").toString
    // every type carries the same value multiset -> group means equal the
    // grand mean, SSB is 0 up to the per-group dec4 quantization, no reject
    val vals = Seq(1.0, 2.5, 4.0, 8.0)
    val rows = for {
      (t, ti) <- Seq("view", "click", "purchase").zipWithIndex
      (v, vi) <- vals.zipWithIndex
    } yield ((ti * 10 + vi).toLong, s"2024-01-01 0$ti:0$vi:00", 1L, t, v, "{}")
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val Array(z) = graft.queries.Stats.all("anova_f")(spark, d).collect()
    assert(z.getAs[Long]("k") == 3L && z.getAs[Long]("n") == 12L)
    assert(math.abs(z.getAs[String]("ssb").toDouble) < 1e-3)
    assert(!z.getAs[Boolean]("reject"))
    // real corpus: driver replay in the query's own quantization
    val Array(r) = graft.queries.Stats.all("anova_f")(spark, TestSpark.sfDir).collect()
    val ev = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .select(col("event_type"), col("value")).collect()
      .map(x => (x.getString(0), BigDecimal(x.getDouble(1)).setScale(4)))
    def dec4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val gs = ev.groupBy(_._1).values.map { xs =>
      val n = xs.length; val s0 = xs.map(_._2).sum
      val ss = xs.map(x => x._2 * x._2).sum
      (n, s0, ss)
    }.toSeq
    val (k, n) = (gs.length, gs.map(_._1).sum)
    val a = gs.map { case (ng, s0, _) =>
      BigDecimal(dec4(s0.toDouble * s0.toDouble / ng)) }.sum
    val ssw = gs.map { case (ng, s0, ss) =>
      BigDecimal(dec4(ss.toDouble - s0.toDouble * s0.toDouble / ng)) }.sum
    val stot = gs.map(_._2).sum
    val ssb = a.toDouble - stot.toDouble * stot.toDouble / n
    assert(r.getAs[Long]("k") == k.toLong && r.getAs[Long]("n") == n.toLong)
    assert(math.abs(r.getAs[String]("ssb").toDouble - ssb) < 1e-3)
    assert(math.abs(r.getAs[String]("ssw").toDouble - ssw.toDouble) < 1e-3)
    val fRef = (ssb / (k - 1)) / (ssw.toDouble / (n - k))
    assert(math.abs(r.getAs[String]("f_stat").toDouble - fRef) < 2e-4)
    // decomposition: SSB + SSW = SST (total moments, same quantization class)
    val sst = gs.map(_._3).sum.toDouble - stot.toDouble * stot.toDouble / n
    assert(math.abs(ssb + ssw.toDouble - sst) < 1e-2)
  }

  test("cramers_v: perfect association gives V=1, independence gives V=0") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("cramers").toString
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.map { case (id, l, src) => (id, s"text $id", l, src, 7L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    // perfect: source determines lang bijectively (and twice over for n>1)
    write((0 until 12).map(i =>
      (i.toLong, s"l${i % 3}", s"s${i % 3}")))
    val perf = graft.queries.Stats.all("cramers_v")(spark, d).collect()
    assert(perf.length == 9, "full 3x3 spine incl. zero cells")
    assert(perf.forall(_.getAs[String]("cramers_v") == "1.0000"))
    assert(perf.forall(_.getAs[Long]("df") == 4L))
    // independence: every (lang, source) cell equally filled
    write((0 until 18).map(i =>
      (i.toLong, s"l${i % 3}", s"s${(i / 3) % 2}")))
    val ind = graft.queries.Stats.all("cramers_v")(spark, d).collect()
    assert(ind.length == 6)
    ind.foreach { r =>
      assert(r.getAs[String]("term").toDouble == 0.0)
      assert(r.getAs[String]("chi2").toDouble == 0.0)
      assert(r.getAs[String]("cramers_v").toDouble == 0.0)
      assert(!r.getAs[Boolean]("reject"))
    }
    // real corpus: V in [0,1], chi2 equals the cell replay
    val real = graft.queries.Stats.all("cramers_v")(spark, TestSpark.sfDir).collect()
    val v = real.head.getAs[String]("cramers_v").toDouble
    assert(v >= 0.0 && v <= 1.0)
    val docs = graft.core.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("lang"), col("source")).collect()
      .map(r2 => (r2.getString(0), r2.getString(1)))
    val cells = docs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nx = docs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ny = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def dec4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    // replay over the FULL spine — zero cells carry (0−e)²/e = e mass
    // keys are Sets — yield through Seqs or equal terms dedupe away
    val chi2Ref = (for { l <- nx.keys.toSeq; s0 <- ny.keys.toSeq } yield {
      val o = cells.getOrElse((l, s0), 0L)
      val e = nx(l).toDouble * ny(s0) / docs.length
      BigDecimal(dec4((o - e) * (o - e) / e))
    }).sum
    assert((BigDecimal(real.head.getAs[String]("chi2")) - chi2Ref).abs
      < BigDecimal("1e-9"))
    assert(real.length == nx.size * ny.size, "full r×c spine")
  }

  test("dq_unique: equals a driver-side multiplicity replay; verdict identities hold") {
    val out = SparkEntry.queries("dq_unique")(spark, TestSpark.sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    val o = graft.core.Tables.load(spark, TestSpark.sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def audit(key: ((Long, Long, String)) => Any) = {
      val m = o.groupBy(key).map(_._2.length)
      (o.length.toLong, m.size.toLong, m.filter(_ > 1).sum.toLong, m.max.toLong)
    }
    val expected = Map(
      "o_orderkey" -> audit(_._1),
      "o_custkey,o_orderdate" -> audit(t => (t._2, t._3)),
      "o_orderdate" -> audit(_._3))
    assert(out.keySet == expected.keySet)
    expected.foreach { case (cand, (n, nd, dup, mx)) =>
      val (gn, gnd, gdup, gmx, isKey) = out(cand)
      assert((gn, gnd, gdup, gmx) == ((n, nd, dup, mx)), s"$cand census")
      assert(isKey == (dup == 0) && isKey == (n == nd) && (mx == 1) == isKey,
        s"$cand verdict identities")
    }
  }

  test("bootstrap_ci: equals a full driver-side replicate replay; the CI brackets the mean") {
    val Array(r) = SparkEntry.queries("bootstrap_ci")(spark, TestSpark.sfDir).collect()
    val o = graft.core.Tables.load(spark, TestSpark.sfDir, "orders")
      .select(col("o_orderkey"), graft.core.Tables.dec(col("o_totalprice")))
      .collect().map(x => (x.getLong(0), BigDecimal(x.getDecimal(1))))
    def w(k: Long, b: Int): Long = {
      val h = ((k % 2147483647L) * 2654435761L + (b * 40503L + 12345L)) % 8L
      if (h < 3) 0L else if (h < 6) 1L else if (h < 7) 2L else 3L
    }
    // Surrogate sanity: the 8-cell map has E[w]=1, Var[w]=1 by construction.
    assert((0L to 7L).map(h => if (h < 3) 0L else if (h < 6) 1L else if (h < 7) 2L else 3L)
      .sum == 8L)
    val means = (0 until 32).map { b =>
      val sw = o.map { case (k, x) => x * w(k, b) }.sum
      val cw = o.map { case (k, _) => w(k, b) }.sum
      sw.toDouble / cw
    }.sorted
    def d4(x: Double) = BigDecimal(math.floor(x * 10000 + 0.5) / 10000)
    assert(r.getLong(0) == o.length && r.getInt(4) == 32)
    val mean = o.map(_._2).sum.toDouble / o.length
    assert(BigDecimal(r.getString(1)) == d4(mean), "point mean")
    val lo = means(0) + (means(1) - means(0)) * 0.775
    val hi = means(30) + (means(31) - means(30)) * 0.225
    assert(BigDecimal(r.getString(2)) == d4(lo), s"ci_lo ${r.getString(2)} vs ${d4(lo)}")
    assert(BigDecimal(r.getString(3)) == d4(hi), s"ci_hi ${r.getString(3)} vs ${d4(hi)}")
    assert(lo < mean && mean < hi, "the 95% percentile CI must bracket the mean here")
  }

  test("ab_lift: z-score reconstructs from the reported counts") {
    val r = graft.queries.Stats.all("ab_lift")(spark, TestSpark.sfDir).head()
    val (n0, c0, n1, c1) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n0 > 0 && n1 > 0 && c0 <= n0 && c1 <= n1)
    val (r0, r1) = (c0.toDouble / n0, c1.toDouble / n1)
    val p = (c0 + c1).toDouble / (n0 + n1)
    val z = (r1 - r0) / math.sqrt(p * (1 - p) * (1.0 / n0 + 1.0 / n1))
    assert(math.abs(r.getString(7).toDouble - z) < 1e-3,
      s"z ${r.getString(7)} vs recomputed $z")
    // sign consistency: z and lift point the same way
    assert(math.signum(r.getString(6).toDouble) == math.signum(z) ||
      r.getString(6).toDouble == 0.0)
  }

  test("quantile_bin: equal-frequency up to ties, ordered non-overlapping ranges, total census") {
    val rows = graft.queries.Stats.all("quantile_bin")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        BigDecimal(r.getString(2)), BigDecimal(r.getString(3))))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to 10), "all ten buckets present")
    val total = graft.core.Tables.load(spark, TestSpark.sfDir, "lineitem").count()
    assert(rows.map(_._2).sum == total, "every row lands in exactly one bucket")
    // equal-frequency: each bucket within 2% of n/10 (slack = decile ties)
    rows.foreach { case (b, n, _, _) =>
      assert(math.abs(n - total / 10.0) <= total * 0.02, s"bucket $b count $n")
    }
    // ranges ordered and non-overlapping: hi(i) <= lo(i+1)
    rows.sliding(2).foreach {
      case Array((_, _, _, hi1), (b2, _, lo2, _)) =>
        assert(hi1 <= lo2, s"bucket ${b2 - 1} hi $hi1 > bucket $b2 lo $lo2")
      case _ =>
    }
  }

  test("standard_scale: fitted stats match builtins; z-column laws Σz≈0, Σz²≈n−1 hold") {
    val li = graft.core.Tables.load(spark, TestSpark.sfDir, "lineitem")
    val n = li.count()
    val rows = graft.queries.Stats.all("standard_scale")(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1).toDouble, r.getString(2).toDouble,
          r.getString(3).toDouble, r.getString(4).toDouble))).toMap
    assert(rows.size == 4)
    // per-row dec4 rounding accumulates at most 5e-5 per row
    val slack = 5e-5 * n + 1e-6
    rows.foreach { case (v, (mean, std, zs, zz)) =>
      val Array(bMean, bStd) = li.agg(avg(col(v)), stddev(col(v)))
        .head().toSeq.map(_.asInstanceOf[Double]).toArray
      assert(math.abs(mean - bMean) < 6e-5, s"$v mean $mean vs $bMean")
      assert(math.abs(std - bStd) < 6e-5, s"$v std $std vs $bStd")
      assert(math.abs(zs) <= slack, s"$v sum(z) = $zs")
      assert(math.abs(zz - (n - 1.0)) <= slack, s"$v sum(z^2) = $zz vs ${n - 1}")
    }
  }

  test("dq_benford: total 9-digit spine whose counts sum to the table size") {
    val rows = graft.queries.Stats.all("dq_benford")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2).toDouble))
    assert(rows.map(_._1).sorted.toSeq == (1 to 9).map(_.toString))
    val total = graft.core.Tables.load(spark, TestSpark.sfDir, "lineitem").count()
    assert(rows.map(_._2).sum == total, "every row lands in exactly one digit bin")
    // observed frequencies are a distribution (4-dec rounding slack)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-3)
  }

  test("srm_check: counts conserve exposures, chi2 reconstructs, mod3 fires and parity doesn't") {
    val rows = graft.queries.Stats.all("srm_check")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4).toDouble, r.getBoolean(5)))
    val types = rows.map(_._1).distinct
    assert(types.nonEmpty && rows.length == types.length * 2)
    // both schemes partition the same exposure set
    val byType = rows.groupBy(_._1)
    byType.foreach { case (t, rs) =>
      val totals = rs.map(r => r._3 + r._4).distinct
      assert(totals.size == 1, s"$t: schemes disagree on exposure size $totals")
    }
    rows.foreach { case (t, scheme, n0, n1, chi2, flag) =>
      val e = (n0 + n1) / 2.0
      val recon = (math.pow(n0 - e, 2) + math.pow(n1 - e, 2)) / e
      assert(math.abs(chi2 - recon) < 1e-3, s"$t/$scheme chi2 $chi2 vs $recon")
      assert(flag == (chi2 > 3.841), s"$t/$scheme flag inconsistent")
      // sequential user_ids: parity splits ~exactly; a declared-50/50 over
      // a true 1/3-2/3 assignment must blow through the critical value
      if (scheme == "parity") assert(!flag, s"$t parity flagged (chi2=$chi2)")
      // a declared-50/50 over a true 1/3-2/3 assignment has E[chi2] ≈ n/9,
      // so the flag MUST fire once the exposure set is big enough to power
      // the test (n ≥ 100 → chi2 ≈ 11 ≫ 3.841); tiny sf0.001 exposure sets
      // (n=15 for some types) are legitimately under-powered — exactly the
      // sample-size caveat a real SRM monitor carries
      if (scheme == "mod3" && n0 + n1 >= 100)
        assert(flag, s"$t mod3 not flagged (chi2=$chi2, n=${n0 + n1})")
    }
  }

  test("ldiv_audit: class census totals the corpus; majority share and verdict are consistent") {
    val rows = graft.queries.Stats.all("ldiv_audit")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4).toDouble, r.getBoolean(5)))
    val total = graft.core.Tables.load(spark, TestSpark.sfDir, "documents").count()
    assert(rows.map(_._3).sum == total, "every doc lands in exactly one QI class")
    rows.foreach { case (src, bkt, n, l, share, ok) =>
      assert(l >= 1 && l <= n, s"$src/$bkt l=$l n=$n")
      // majority count is between ceil(n/l) (perfectly even) and n
      assert(share > 0.0 && share <= 1.0 + 1e-9, s"$src/$bkt share $share")
      assert(share * n >= n.toDouble / l - 1e-6 * n, s"$src/$bkt share below even split")
      assert(ok == (l >= 2), s"$src/$bkt verdict inconsistent")
    }
    // the corpus is multilingual: at least one class must be diverse
    assert(rows.exists(_._6), "no diverse class found")
  }
}
