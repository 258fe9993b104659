package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** In-engine recounts for the GRPH-2 / SKY-1 analytics family
  * (`queries/Analytics.scala`): each scalable rewrite is re-derived here
  * from the naive quadratic definition on the small SF, independent of the
  * DuckDB oracle (which certifies the same equality cross-engine).
  */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("graph_triangles: oriented wedge count equals the naive 3-way join; census is consistent") {
    val r = graft.queries.Analytics.all("graph_triangles")(spark, TestSpark.sfDir).head()
    val (nodes, edges, wedges, tris) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // naive recount: canonical a<b<c triangle join over the same edge set
    val li = graft.core.Tables.load(spark, TestSpark.sfDir, "lineitem")
    val op = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val e = op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
    val naive = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .count()
    assert(tris == naive, s"oriented $tris vs naive $naive")
    assert(edges == e.count())
    assert(nodes <= 2 * edges && nodes > 0)
    // every triangle closes 3 wedges, so 3T never exceeds the wedge census
    assert(3 * tris <= wedges, s"3*$tris > $wedges")
  }

  test("ewma: matches the per-user sequential recurrence; first event passes through") {
    val rows = graft.queries.Analytics.all("ewma")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3).toDouble))
    val byUser = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val got = rows.map(r => (r._1, r._2) -> r._3).toMap
    byUser.foreach { case (u, evs) =>
      val ordered = evs.sortBy(e => (e._3, e._2)).map(e => (e._2, e._4))
      ordered.zipWithIndex.foreach { case ((eid, _), i) =>
        // naive truncated-adjusted recount in plain doubles: the query's
        // decimal arithmetic must land within the output rounding of it
        val window = ordered.slice(math.max(0, i - 18), i + 1).map(_._2).reverse
        val num = window.zipWithIndex.map { case (v, k) => v * math.pow(0.7, k) }.sum
        val den = window.indices.map(k => math.pow(0.7, k)).sum
        val exp = num / den
        assert(math.abs(got((u, eid)) - exp) < 1e-3,
          s"user $u event $eid: ${got((u, eid))} vs naive $exp")
      }
      // first event in time order passes through exactly
      val (firstEid, firstV) = ordered.head
      assert(math.abs(got((u, firstEid)) - firstV) < 5.1e-5)
    }
  }

  test("drift_psi: identical halves give zero drift; census conserves counts") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("drift_zero").toString
    // two time-mirrored copies of the same value multiset: every bin has
    // p == q, so every term and the chi2 total must be exactly zero
    val vals = Seq(1.0, 2.0, 5.0, 7.5, 9.9, 3.3)
    val rows = vals.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, s"2024-01-01 00:0$i:00", 1L, "view", v, "{}"),
          (100L + i, s"2024-01-01 02:0$i:00", 1L, "view", v, "{}"))
    }
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = graft.queries.Analytics.all("drift_psi")(spark, d).collect()
    assert(out.length == 10)
    assert(out.map(_.getLong(1)).sum == vals.size && out.map(_.getLong(2)).sum == vals.size)
    out.foreach { r =>
      assert(r.getString(6).toDouble == 0.0, s"term nonzero: $r")
      assert(r.getString(5).toDouble == 0.0, s"chi2 nonzero: $r")
    }
    // and on the real corpus the statistic is a finite non-negative number
    val real = graft.queries.Analytics.all("drift_psi")(spark, TestSpark.sfDir)
      .head().getString(5).toDouble
    assert(real >= 0.0 && real < 2.0)
  }

  test("drift_chi2: identical halves give zero statistic; replay matches on the real corpus") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("chi2_zero").toString
    // two time-mirrored copies of the same type multiset: every expected
    // count equals its observed count, so every term and chi2 are 0 and
    // the test must not reject
    val types = Seq("view", "click", "view", "purchase", "click", "view")
    val rows = types.zipWithIndex.flatMap { case (t, i) =>
      Seq((i.toLong, s"2024-01-01 00:0$i:00", 1L, t, 1.0, "{}"),
          (100L + i, s"2024-01-01 02:0$i:00", 1L, t, 1.0, "{}"))
    }
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = graft.queries.Analytics.all("drift_chi2")(spark, d).collect()
    assert(out.length == 3, "one row per type")
    out.foreach { r =>
      assert(r.getAs[Long]("n_a") == r.getAs[Long]("n_b"))
      assert(r.getAs[String]("term").toDouble == 0.0)
      assert(r.getAs[String]("chi2").toDouble == 0.0)
      assert(r.getAs[Long]("df") == 2L)
      assert(!r.getAs[Boolean]("reject"))
    }
    // real corpus: driver replay of cells, expected counts, and chi2 in
    // the query's own quantization discipline
    val real = graft.queries.Analytics.all("drift_chi2")(spark, TestSpark.sfDir).collect()
    val ev = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val cells = ev.groupBy(_._1).map { case (t, xs) =>
      (t, xs.count(_._2 < mid).toLong, xs.count(_._2 >= mid).toLong) }.toSeq
    val (ta, tb) = (cells.map(_._2).sum, cells.map(_._3).sum)
    def dec4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    var chi2Ref = BigDecimal(0)
    cells.foreach { case (t, na, nb) =>
      val rt = (na + nb).toDouble
      val ea = rt * ta / (ta + tb); val eb = rt * tb / (ta + tb)
      chi2Ref += BigDecimal(dec4((na - ea) * (na - ea) / ea + (nb - eb) * (nb - eb) / eb))
      val row = real.find(_.getString(0) == t).get
      assert(row.getAs[Long]("n_a") == na && row.getAs[Long]("n_b") == nb)
      assert(math.abs(row.getAs[String]("exp_a").toDouble - ea) < 6e-5)
    }
    val chi2Got = BigDecimal(real.head.getAs[String]("chi2"))
    assert((chi2Got - chi2Ref).abs < BigDecimal("1e-9"), s"$chi2Got vs $chi2Ref")
    assert(real.map(_.getAs[Long]("df")).distinct.toSeq == Seq(cells.length - 1L))
  }

  test("graph_hops: distance relaxation equals a driver-side BFS over the same edges") {
    // rebuild the trade edge list exactly as the query declares it
    val li = graft.core.Tables.load(spark, TestSpark.sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = graft.core.Tables.load(spark, TestSpark.sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val c = graft.core.Tables.load(spark, TestSpark.sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("dst"))
    val su = graft.core.Tables.load(spark, TestSpark.sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").cast("long").as("src"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .select(col("src"), col("dst")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // plain BFS from node 0, capped at 5 hops
    var dist = Map(0L -> 0)
    var frontier = Set(0L)
    for (k <- 1 to 5) {
      frontier = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
        .filterNot(dist.contains)
      dist ++= frontier.map(_ -> k)
    }
    val names = graft.core.Tables.load(spark, TestSpark.sfDir, "nation")
      .select(col("n_name"), col("n_nationkey").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("graph_hops")(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got.size == names.size)
    got.foreach { case (name, hop) =>
      assert(hop == dist.get(names(name)), s"$name: $hop vs BFS ${dist.get(names(name))}")
    }
  }

  test("curriculum: 5 equal-frequency phases with monotone quality") {
    val rows = SparkEntry.queries("curriculum")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2).toDouble))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to 5))
    val total = graft.core.Tables.load(spark, TestSpark.sfDir, "documents").count()
    assert(rows.map(_._2).sum == total)
    // equal frequency up to quantile ties (score domain is 4-decimal, so
    // ties can shift a few docs between phases)
    rows.foreach { case (p, n, _) =>
      assert(math.abs(n - total / 5.0) <= math.max(2.0, total * 0.06), s"phase $p n=$n")
    }
    // the schedule property: mean score strictly rises phase over phase
    rows.sliding(2).foreach {
      case Array((_, _, a), (p, _, b)) => assert(a < b, s"phase $p not above ${p - 1}")
      case _ =>
    }
  }

  test("seasonal_profile: census conserves events; indices average to 1 under count weights") {
    val rows = SparkEntry.queries("seasonal_profile")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getString(2).toDouble, r.getString(3).toDouble))
    val total = graft.core.Tables.load(spark, TestSpark.sfDir, "events").count()
    assert(rows.map(_._2).sum == total)
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 23))
    // Σ n_h·idx_h / N == 1: the definition of a seasonal index (up to the
    // 4-decimal rounding of each idx)
    val weighted = rows.map(r => r._2 * r._4).sum / total
    assert(math.abs(weighted - 1.0) < 1e-3, s"weighted index $weighted")
  }

  test("drift_ks: equals a driver-side exact ECDF replay; argmax is the smallest maximizer") {
    val Array(row) = SparkEntry.queries("drift_ks")(spark, TestSpark.sfDir).collect()
    val e = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .select(unix_micros(col("ts")), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val mid = (e.map(_._1).min + e.map(_._1).max) / 2
    val (ha, hb) = e.partition(_._1 < mid)
    val (na, nb) = (ha.length, hb.length)
    val aCnt = ha.groupBy(_._2).view.mapValues(_.length).toMap
    val bCnt = hb.groupBy(_._2).view.mapValues(_.length).toMap
    var (ca, cb, dmax, atv) = (0, 0, 0.0, Double.NaN)
    e.map(_._2).distinct.sorted.foreach { v =>
      ca += aCnt.getOrElse(v, 0); cb += bCnt.getOrElse(v, 0)
      val diff = math.abs(ca.toDouble / na - cb.toDouble / nb)
      if (diff > dmax) { dmax = diff; atv = v } // strict > == smallest argmax
    }
    def d4(x: Double) = BigDecimal(math.floor(x * 10000 + 0.5) / 10000)
    assert(row.getLong(0) == na && row.getLong(1) == nb, "half sizes")
    assert(BigDecimal(row.getString(2)) == d4(dmax), s"D ${row.getString(2)} vs ${d4(dmax)}")
    assert(BigDecimal(row.getString(3)) == d4(atv), s"argmax ${row.getString(3)} vs ${d4(atv)}")
    val thr = 1.3581 * math.sqrt((na + nb).toDouble / (na.toLong * nb).toDouble)
    assert(row.getBoolean(4) == (d4(dmax) > d4(thr)), "reject flag vs Smirnov threshold")
  }

  test("anomaly_seasonal: equals a driver-side replay (profile subtraction, type-7 medians, dec4 gate)") {
    val out = SparkEntry.queries("anomaly_seasonal")(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        BigDecimal(r.getString(2)), BigDecimal(r.getString(3)),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // Spark supplies hour() and the canonical decimal cast; everything
    // after is pure-Scala replay of the declared semantics.
    val e = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .select(col("event_type"), hour(col("ts")), col("value"),
        graft.core.Tables.dec(col("value")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
        BigDecimal(r.getDecimal(3))))
    def t7(xs: Seq[Double]): Double = { // the shared type-7 interpolation
      val s = xs.sorted; val h = (s.length - 1) * 0.5; val lo = h.toInt
      if (lo + 1 < s.length) s(lo) + (s(lo + 1) - s(lo)) * (h - lo) else s(lo)
    }
    def d4(x: Double) = BigDecimal(math.floor(x * 10000 + 0.5) / 10000)
    val smean = e.groupBy(x => (x._1, x._2)).map { case (k, g) =>
      k -> (g.map(_._4).sum.toDouble / g.length)
    }
    val byType = e.groupBy(_._1)
    assert(out.keySet == byType.keySet, "census totality over event types")
    byType.foreach { case (typ, g) =>
      val resid = g.map(x => x._3 - smean((x._1, x._2))).toSeq
      val med = t7(resid)
      val mad = t7(resid.map(x => math.abs(x - med)))
      val fire = resid.filter(x => d4(math.abs(x - med)) > d4(4.4478 * mad))
      val (n, m, md, nOut, nLow, nHigh) = out(typ)
      assert(n == g.length, s"$typ: n $n != ${g.length}")
      assert(m == d4(med) && md == d4(mad), s"$typ: med/mad $m/$md vs ${d4(med)}/${d4(mad)}")
      assert(nOut == fire.length && nLow == fire.count(_ < med) &&
        nHigh == fire.count(_ > med), s"$typ: gate $nOut/$nLow/$nHigh")
      assert(nOut == nLow + nHigh, s"$typ: out != low + high")
    }
  }

  test("acf: laws — constant series → NULL, contiguous pair counts, lag-1 matches builtin corr") {
    import spark.implicits._
    // Law 1 (crafted corpus): a CONSTANT hourly series has zero variance at
    // every lag → correlation undefined → acf must be NULL, never 0/∞/crash
    // (the den==0 guard's contract). Two events in every hour, one type.
    val d = java.nio.file.Files.createTempDirectory("acf_const").toString
    val rows = for (h <- 0 until 12; j <- 0 until 2) yield
      (h * 2L + j, f"2024-03-01 $h%02d:1$j:00", 7L, "view", 1.0, "{}")
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val const = SparkEntry.queries("acf")(spark, d).collect()
    assert(const.length == 6, s"one row per lag, got ${const.length}")
    const.foreach { r =>
      assert(r.getLong(2) == 12L - r.getInt(1), s"n_pairs for contiguous 12h series: $r")
      assert(r.isNullAt(3), s"constant series must yield NULL acf: $r")
    }
    // Laws on the real corpus: every (type, lag 1..6) present; |acf| ≤ 1;
    // contiguous hour spine ⇒ n_pairs(k) = hours(type) − k.
    val out = SparkEntry.queries("acf")(spark, TestSpark.sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getString(3).toDouble)))
    val types = out.map(_._1).distinct
    assert(out.length == types.length * 6)
    out.foreach { case (t, lg, np, a) =>
      assert(lg >= 1 && lg <= 6)
      a.foreach(v => assert(math.abs(v) <= 1.0 + 1e-9, s"|acf|>1 at ($t,$lg): $v"))
    }
    types.foreach { t =>
      val byLag = out.filter(_._1 == t).sortBy(_._2)
      val h = byLag.head._3 + 1 // n_pairs(1) = H − 1
      byLag.foreach { case (_, lg, np, _) =>
        assert(np == h - lg, s"$t lag $lg: pairs $np on an $h-hour spine") }
    }
    // Law 2 (independent recount): lag-1 acf equals Spark's builtin corr on
    // the same positional (x_i, x_{i+1}) pairs, built here by a row-number
    // self-join instead of the query's lead window. (Positional, not
    // calendar: the declared semantics treat the hour-ordered series as a
    // sequence — a calendar hr+1h join WAS tried here and differs, because
    // this corpus has per-type hour gaps; GAP-1 densification composes in
    // front when calendar-true lags are wanted.)
    val hourly = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("hr").asc)))
    val a = hourly.select(col("event_type").as("t"), col("rn"), col("cnt").as("x"))
    val b = hourly.select(col("event_type").as("t2"),
      (col("rn") - 1).as("rn2"), col("cnt").as("y"))
    val ref = a.join(b, col("t") === col("t2") && col("rn") === col("rn2"))
      .groupBy(col("t")).agg(corr(col("x").cast("double"), col("y").cast("double")).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    out.filter(_._2 == 1).foreach { case (t, _, _, a1) =>
      assert(math.abs(a1.get - ref(t)) < 6e-5, s"$t lag1: ${a1.get} vs builtin ${ref(t)}")
    }
  }

  test("ccf: correlogram equals a driver-side recompute at every lag") {
    val out = SparkEntry.queries("ccf")(spark, TestSpark.sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getString(2).toDouble)))).toMap
    assert(out.size == 7, s"one row per lag -3..3, got ${out.keySet}")
    val hourly = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      .orderBy(col("hr"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    def pearson(xs: Seq[Long], ys: Seq[Long]): Option[Double] = {
      val n = xs.length.toDouble
      val (sx, sy) = (xs.sum.toDouble, ys.sum.toDouble)
      val sxx = xs.map(x => x * x).sum.toDouble
      val syy = ys.map(y => y * y).sum.toDouble
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum.toDouble
      val den = math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      if (den == 0.0) None else Some((n * sxy - sx * sy) / den)
    }
    val cs = hourly.toSeq.map(_._1)
    val ps = hourly.toSeq.map(_._2)
    (-3 to 3).foreach { k =>
      val (xs, ys) =
        if (k >= 0) (cs.dropRight(k), ps.drop(k))
        else (cs.drop(-k), ps.dropRight(-k))
      val (np, r) = out(k)
      assert(np == xs.length.toLong, s"lag $k: pairs $np vs ${xs.length}")
      (r, pearson(xs, ys)) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) < 6e-5, s"lag $k: $a vs naive $b")
        case (None, None) => ()
        case other => fail(s"lag $k definedness mismatch: $other")
      }
    }
  }

  test("purchase_context: range-frame extraction equals a driver-side replay") {
    val evs = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val got = SparkEntry.queries("purchase_context")(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(3), r.getString(4)))).toMap
    val byUser = evs.groupBy(_._1)
    var checked = 0
    byUser.foreach { case (_, rows) =>
      rows.filter(_._4 == "purchase").foreach { case (_, eid, tsu, _) =>
        val ctx = rows.filter(e => e._3 >= tsu - 1800000000L && e._3 <= tsu - 1)
          .sortBy(e => (e._3, e._2))
          .map(e => s"${e._3}:${e._2}:${e._4}")
        assert(got(eid) == ((ctx.length, ctx.mkString("|"))),
          s"purchase $eid: ${got(eid)} vs replay")
        checked += 1
      }
    }
    assert(checked == got.size && got.exists(_._2._1 > 0))
  }

  test("impute_median: repair fires, medians recompute, checksum decomposes") {
    val rows = SparkEntry.queries("impute_median")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getString(3)), BigDecimal(r.getString(4))))
    assert(rows.nonEmpty)
    val e = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    rows.foreach { case (typ, n, nImp, med, sum) =>
      val all = e.filter(_._2 == typ)
      val nulled = all.filter(_._1 % 11 == 0)
      assert(n == all.length && nImp == nulled.length && nImp > 0, s"$typ: $n/$nImp")
      // checksum decomposition: Σ imputed = Σ non-null (dec4 each) + n_imputed·median
      val nonNullSum = all.filterNot(_._1 % 11 == 0)
        .map(v => BigDecimal(math.floor(v._3 * 10000 + 0.5) / 10000)).sum
      assert((sum - (nonNullSum + med * nImp)).abs < BigDecimal("0.0001") * (nImp + 1),
        s"$typ: checksum $sum vs ${nonNullSum + med * nImp}")
    }
  }

  test("attr_last: window attribution equals a driver-side replay of the rule") {
    val evs = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val got = SparkEntry.queries("attr_last")(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(3)) None else Some(r.getLong(3))), r.getBoolean(4))).toMap
    val purchases = evs.filter(_._4 == "purchase")
    assert(got.size == purchases.length)
    evs.groupBy(_._1).foreach { case (_, rows) =>
      val ordered = rows.sortBy(e => (e._3, e._2))
      var lastClick: Option[(Long, Long)] = None // (event_id, tsu)
      ordered.foreach { case (_, eid, tsu, typ) =>
        if (typ == "click") lastClick = Some((eid, tsu))
        if (typ == "purchase") {
          val expect = lastClick.filter { case (_, cts) => tsu - cts <= 86400000000L }
          assert(got(eid) == ((expect.map(_._1), expect.nonEmpty)),
            s"purchase $eid: ${got(eid)} vs $expect")
        }
      }
    }
  }

  test("rfm: scores in 1..5 per quintile law, segment packs them, recency inverted") {
    val rows = SparkEntry.queries("rfm")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, _, _, rs, fs, ms, seg) =>
      assert(rs >= 1 && rs <= 5 && fs >= 1 && fs <= 5 && ms >= 1 && ms <= 5, s"user $u")
      assert(seg == rs * 100 + fs * 10 + ms, s"user $u segment $seg")
    }
    // recency inversion: the user(s) with the smallest r_days score highest
    val minR = rows.map(_._2).min
    rows.filter(_._2 == minR).foreach { case (u, _, _, rs, _, _, _) =>
      assert(rs == 5, s"most-recent user $u has r_score $rs")
    }
    // frequency monotonicity: a strictly higher f never scores lower
    val byF = rows.sortBy(_._3)
    byF.sliding(2).foreach {
      case Array((_, _, f1, _, s1, _, _), (u2, _, f2, _, s2, _, _)) =>
        if (f2 > f1) assert(s2 >= s1, s"user $u2: f $f2 > $f1 but score $s2 < $s1")
      case _ =>
    }
  }

  test("split_assign: exact-dup copies co-travel; assignment is total and train-majority") {
    val doc = graft.core.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = graft.queries.Analytics.all("split_assign")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.length == doc.size, "every doc gets exactly one assignment")
    // leakage-safety: identical text => identical rep AND identical split
    rows.groupBy(r => doc(r._1)).foreach { case (_, grp) =>
      assert(grp.map(_._2).distinct.length == 1, s"reps differ: $grp")
      assert(grp.map(_._4).distinct.length == 1, s"splits differ: $grp")
    }
    val bySplit = rows.groupBy(_._4).view.mapValues(_.length).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit("train") > rows.length / 2, s"train not majority: $bySplit")
    rows.foreach { case (_, _, b, sp) =>
      val expect = if (b < 800) "train" else if (b < 900) "val" else "test"
      assert(sp == expect)
    }
  }

  test("corr_kendall: equals the driver-side O(n^2) tau-b replay; bounded in [-1,1]") {
    val Array(r) = SparkEntry.queries("corr_kendall")(spark, TestSpark.sfDir).collect()
    // Driver replay from the raw events, same hourly collapse.
    val hourly = graft.core.Tables.load(spark, TestSpark.sfDir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      .collect().map(x => (x.getLong(1), x.getLong(2)))
    val n = hourly.length
    var (conc, disc) = (0L, 0L)
    for (i <- 0 until n; j <- i + 1 until n) {
      val ((c1, p1), (c2, p2)) = (hourly(i), hourly(j))
      if ((c1 < c2 && p1 < p2) || (c1 > c2 && p1 > p2)) conc += 1
      else if ((c1 < c2 && p1 > p2) || (c1 > c2 && p1 < p2)) disc += 1
    }
    val n0 = n.toDouble * (n - 1) / 2.0
    def ties(f: ((Long, Long)) => Long) = hourly.groupBy(f).values
      .map(g => g.length.toDouble * (g.length - 1) / 2.0).sum
    val tauRef = (conc - disc).toDouble /
      math.sqrt((n0 - ties(_._1)) * (n0 - ties(_._2)))
    assert(r.getAs[Long]("n_hours") == n.toLong)
    assert(r.getAs[Long]("conc") == conc && r.getAs[Long]("disc") == disc)
    val tau = r.getAs[String]("tau_b").toDouble
    assert(math.abs(tau - tauRef) < 6e-5, s"tau $tau vs replay $tauRef")
    assert(tau >= -1.0 - 1e-9 && tau <= 1.0 + 1e-9)
  }

  test("skyline: frontier is mutually non-dominated and dominates every non-member") {
    val p = graft.core.Tables.load(spark, TestSpark.sfDir, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    def dom(q: (Long, Double, Int), x: (Long, Double, Int)): Boolean =
      q._2 <= x._2 && q._3 >= x._3 && (q._2 < x._2 || q._3 > x._3)
    val got = graft.queries.Analytics.all("skyline")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val gotKeys = got.map(_._1).toSet
    assert(got.nonEmpty)
    // no frontier member dominated by ANY point (naive O(n·f) recount)
    got.foreach { f =>
      assert(!p.exists(q => dom(q, f)), s"frontier $f is dominated")
    }
    // every non-member is dominated by someone (so the frontier is complete)
    p.filterNot(x => gotKeys.contains(x._1)).foreach { x =>
      assert(p.exists(q => dom(q, x)), s"non-member $x undominated")
    }
  }
}
