package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.functions.GraftFunctions.{cosine_similarity, poly_hash}

/** Property-based algebraic laws (SURVEY §5.2.4), run through the real
  * engine — each property builds DataFrames from generated data and checks
  * the relational/similarity algebra Spark must preserve. */
object GraftLaws extends Properties("graft.laws") {
  import TestSpark._
  import spark.implicits._

  // Each property runs several Spark jobs; 10 generated cases per law keeps
  // the suite honest without making `sbt test` minutes-long.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val ints = Gen.listOfN(25, Gen.choose(0, 20))
  private val keyed = Gen.listOfN(20, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 100)))

  property("filter commutes with projection") = forAll(ints) { xs =>
    val df = xs.toDF("x")
    val a = df.select((col("x") * 2).as("y")).filter(col("y") > 10)
    val b = df.filter(col("x") * 2 > 10).select((col("x") * 2).as("y"))
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
  }

  property("unionAll adds counts; union-distinct equals set union") = forAll(ints, ints) { (xs, ys) =>
    val (a, b) = (xs.toDF("x"), ys.toDF("x"))
    a.unionAll(b).count() == xs.size + ys.size &&
      a.union(b).distinct().count() == (xs.toSet ++ ys.toSet).size
  }

  property("dropDuplicates is idempotent and reaches the distinct count") = forAll(ints) { xs =>
    val d1 = xs.toDF("x").dropDuplicates("x")
    d1.count() == xs.distinct.size && d1.dropDuplicates("x").count() == d1.count()
  }

  property("inner join row count is the sum of key-multiplicity products") =
    forAll(keyed, keyed) { (ls, rs) =>
      val l = ls.toDF("k", "v")
      val r = rs.toDF("k", "w")
      val expected = ls.groupBy(_._1).map { case (k, g) =>
        g.size.toLong * rs.count(_._1 == k)
      }.sum
      l.join(r, "k").count() == expected
    }

  property("left_anti plus left_semi partition the left side") = forAll(keyed, keyed) { (ls, rs) =>
    val l = ls.toDF("k", "v")
    val r = rs.toDF("k", "w")
    l.join(r, Seq("k"), "left_semi").count() + l.join(r, Seq("k"), "left_anti").count() == ls.size
  }

  private val tokenArr = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))

  property("Jaccard is within [0,1], symmetric, and 1 on self") =
    forAll(tokenArr, tokenArr) { (xs, ys) =>
      val df = Seq((xs, ys)).toDF("xa", "ya")
        .select(array_distinct(col("xa")).as("x"), array_distinct(col("ya")).as("y"))
      def jac(a: String, b: String) =
        size(array_intersect(col(a), col(b))).cast("double") /
          (size(col(a)) + size(col(b)) - size(array_intersect(col(a), col(b)))).cast("double")
      val r = df.select(jac("x", "y").as("j1"), jac("y", "x").as("j2"), jac("x", "x").as("js")).head()
      val (j1, j2, js) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      j1 >= 0.0 && j1 <= 1.0 && j1 == j2 && js == 1.0
    }

  private val vec = Gen.listOfN(8, Gen.choose(-100, 100).map(_.toDouble))
    .suchThat(v => v.exists(_ != 0.0))

  property("cosine similarity is symmetric, bounded, and 1 on self") = forAll(vec, vec) { (a, b) =>
    val df = Seq((a, b)).toDF("a", "b")
    val r = df.select(
      cosine_similarity(col("a"), col("b")).as("ab"),
      cosine_similarity(col("b"), col("a")).as("ba"),
      cosine_similarity(col("a"), col("a")).as("aa")).head()
    r.getDouble(0) == r.getDouble(1) &&
      r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9 &&
      math.abs(r.getDouble(2) - 1.0) < 1e-9
  }

  // Random sparse graphs over 12 nodes: the distributed alternating-
  // contraction Hash-Min must agree with a driver-side union-find that
  // always attaches the larger root under the smaller (so every root is
  // its component minimum) — chains, cycles, self-merges, empty graphs.
  private val edgeList = Gen.listOfN(15,
    Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L))).map(_.filter(p => p._1 != p._2))

  property("clusterAssign equals driver-side union-find component minima") =
    forAll(edgeList) { es =>
      val docs = (0L to 11L).toDF("doc_id")
      val edges = es.toDF("d1", "d2")
      val result = graft.queries.LlmOps.clusterAssign(docs, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map((0L to 11L).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0L to 11L).forall(i => result(i) == find(i))
    }

  property("minhash sketch is set-determined: order- and multiplicity-invariant") =
    forAll(tokenArr) { xs0 =>
      val xs = if (xs0.isEmpty) List("a") else xs0
      // Same token SET presented three ways: as-is, reversed, and with
      // every token duplicated — the sketch (8 slot-wise mins over the
      // hashed stream) must be identical for all three, which is the
      // property that lets LSH banding bucket exact-duplicate docs
      // together regardless of row order or token repetition.
      val docs = Seq((1L, xs), (2L, xs.reverse), (3L, xs ++ xs))
        .toDF("doc_id", "toks")
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .select(col("doc_id"), poly_hash(col("tok")).as("h"))
      val sigs = docs.groupBy(col("doc_id"))
        .agg(graft.functions.MinHashSketch.minhash_sketch(col("h")).as("sig"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
      sigs(1L) == sigs(2L) && sigs(1L) == sigs(3L) && sigs(1L).length == 8
    }

  property("QSketch: merge is associative within the rank bound; x10 merge tree holds it") =
    forAll(Gen.listOfN(3, Gen.listOfN(300, Gen.choose(-100000L, 100000L)))) { chunks =>
      import graft.functions.QSketch
      def build(xs: Seq[Long]): QSketch.State =
        xs.foldLeft(new QSketch.State())(QSketch.update)
      // merge() mutates its left argument, so every grouping gets fresh
      // builds — the law is about the SUMMARY algebra, not buffer reuse.
      val all = chunks.flatten.sorted
      val n = all.length
      def rankOk(est: Long, q: Double): Boolean = {
        // ε ≈ log2(n/K)/K is sub-1% at these sizes; the 5%·n window (min
        // 3) is the can't-flake cushion, still far below a broken sketch.
        val slack = math.max(3L, (0.05 * n).round)
        val target = math.max(1L, math.ceil(q * n).toLong)
        val lo = all.count(_ < est)
        val hi = all.count(_ <= est)
        target >= lo - slack && target <= hi + slack
      }
      val Seq(a, b, c) = chunks
      val leftAssoc = QSketch.merge(QSketch.merge(build(a), build(b)), build(c))
      val rightAssoc = QSketch.merge(build(a), QSketch.merge(build(b), build(c)))
      // x10 merge tree: the same rows split into 10 chunk-sketches and
      // merged pairwise-tree-wise — the 100 TB rollup shape (AGG-13's
      // union story applied to quantiles).
      val tree = all.grouped(math.max(1, n / 10)).map(build)
        .reduce(QSketch.merge)
      val qs = Seq(0.1, 0.5, 0.9)
      leftAssoc.n == n && rightAssoc.n == n && tree.n == n &&
        qs.forall { q =>
          rankOk(QSketch.quantile(leftAssoc, q), q) &&
            rankOk(QSketch.quantile(rightAssoc, q), q) &&
            rankOk(QSketch.quantile(tree, q), q)
        }
    }

  property("MGSketch: every merge tree keeps the deterministic bounds and coverage") =
    forAll(Gen.listOfN(3, Gen.listOfN(400,
      // Skewed item stream (one dominant item, a mid tier, a long tail)
      // so the coverage clause is non-vacuous at k = 8.
      Gen.frequency(10 -> Gen.const(0), 5 -> Gen.const(1),
        3 -> Gen.choose(2, 5), 7 -> Gen.choose(6, 60))))) { chunks =>
      import graft.functions.MGSketch
      import org.apache.spark.unsafe.types.UTF8String
      val k = 8
      def build(xs: Seq[Int]): MGSketch.State =
        xs.foldLeft(new MGSketch.State(k)) { (s, x) =>
          MGSketch.update(s, UTF8String.fromString("w" + x))
        }
      val all = chunks.flatten
      val n = all.length.toLong
      val exact = all.groupBy(identity).map { case (x, xs) => ("w" + x, xs.size.toLong) }
      val eps = n / (k + 1L)
      // The MG contract for a FULL summary of the stream: estimates are
      // underestimates within eps, every >eps item retained, n preserved.
      def ok(s: MGSketch.State): Boolean = {
        val ents = MGSketch.sortedEntries(s)
          .map { case (u, c) => u.toString -> c }.toMap
        s.n == n &&
          ents.forall { case (w, e) =>
            val t = exact(w); e <= t && e >= t - eps } &&
          exact.forall { case (w, t) => t <= eps || ents.contains(w) }
      }
      val Seq(a, b, c) = chunks
      // merge() mutates its left argument — fresh builds per grouping.
      ok(MGSketch.merge(MGSketch.merge(build(a), build(b)), build(c))) &&
        ok(MGSketch.merge(build(a), MGSketch.merge(build(b), build(c)))) &&
        ok(all.grouped(math.max(1, all.length / 10)).map(build)
          .reduce(MGSketch.merge)) &&
        ok(MGSketch.deserialize(MGSketch.serialize(build(all))))
    }

  private val asciiStr = Gen.listOfN(12, Gen.choose(32.toChar, 126.toChar)).map(_.mkString)

  property("poly_hash lands in [0, P) and is deterministic") = forAll(asciiStr) { s =>
    val df = Seq(s).toDF("s").select(poly_hash(col("s")).as("h1"), poly_hash(col("s")).as("h2"))
    val r = df.head()
    r.getLong(0) >= 0L && r.getLong(0) < graft.functions.GraftHashImpl.P &&
      r.getLong(0) == r.getLong(1)
  }

  private val edgeGen = Gen.listOfN(15,
    Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L), Gen.choose(1L, 5L)))

  property("pagerankFixedPoint equals the driver-side integer reference on random graphs") =
    forAll(edgeGen) { raw =>
      // Deduplicate parallel edges by summing weights (the groupBy the
      // query's edge extraction performs).
      val es = raw.groupBy(t => (t._1, t._2))
        .map { case ((s0, d0), g) => (s0, d0, g.map(_._3).sum) }.toSeq
      val nodes = (0L to 7L)
      val (base, tele) = (1000000000000L / 8, 150000000000L / 8)
      // Driver-side reference: same fixed-point arithmetic in plain Scala.
      val tot = es.groupBy(_._1).map { case (s0, g) => s0 -> g.map(_._3).sum }
      var ref = nodes.map(_ -> base).toMap
      for (_ <- 1 to 3) {
        val m = es.groupBy(_._2).map { case (d0, g) =>
          d0 -> g.map { case (s0, _, w) => ref(s0) * w / tot(s0) }.sum
        }
        ref = nodes.map(v => v -> (tele + 17L * m.getOrElse(v, 0L) / 20L)).toMap
      }
      val got = graft.queries.Relational.pagerankFixedPoint(
          nodes.toDF("node"),
          es.toDF("src", "dst", "w"), iters = 3, base = base, teleport = tele)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == ref
    }

  // Tight domains force same-instant collisions: 3 users, 12 integer
  // seconds, 20 events — purchases regularly share a timestamp with the
  // state change they cause (and with other users' changes), which is
  // exactly the boundary the as-of rewrite must get right.
  private val pitEvents = Gen.listOfN(20,
    Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 11L),
      Gen.oneOf("view", "click", "purchase")))

  property("scd2_pit's single-sort fold equals the interval join") =
    forAll(pitEvents) { evs =>
      import org.apache.spark.sql.expressions.Window
      val df = evs.zipWithIndex.map { case ((u, sec, ty), i) =>
        (i.toLong, new java.sql.Timestamp(1717200000000L + sec * 1000L), u, ty)
      }.toDF("event_id", "ts", "user_id", "event_type")
      val byU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val changed = lag(col("event_type"), 1).over(byU).isNull ||
        lag(col("event_type"), 1).over(byU) =!= col("event_type")
      val states = df.withColumn("chg", changed).filter(col("chg"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("state"), lit(0).as("tag"))
      val purch = df.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("string").as("state"), lit(1).as("tag"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val fold = states.unionByName(purch)
        .withColumn("cur", last(col("state"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("cur")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // The declarative twin: SCD2 intervals + honest interval join.
      val scd = states
        .withColumn("valid_to", lead(col("ts"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts").asc, col("event_id").asc)))
        .select(col("user_id").as("su"), col("state").as("ij_state"),
          col("ts").as("vf"), col("valid_to"))
      val ij = purch.as("p").join(scd,
          col("p.user_id") === col("su") && col("vf") <= col("p.ts") &&
            (col("valid_to").isNull || col("p.ts") < col("valid_to")))
        .select(col("p.event_id"), col("ij_state")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      fold == ij
    }

  // Dense start domain (0..60) with lengths up to 25 → heavy overlap,
  // touching, containment, AND multi-interval islands that straddle the
  // forced 5-way range-partition boundaries — the carry path under test.
  private val intervalGen = Gen.listOfN(30,
    Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 25L)))

  property("IslandMerge island ids equal the single-window labeling") =
    forAll(intervalGen) { ivs =>
      import org.apache.spark.sql.expressions.Window
      val df = ivs.zipWithIndex.map { case ((s0, len), i) =>
        (i.toLong, s0, s0 + len) }.toDF("id", "stu", "enu")
      val sort = Seq(col("stu").asc, col("enu").asc, col("id").asc)
      val dist = graft.operators.IslandMerge
        .attach(df, "stu", "enu", sort, "island", numParts = 5)
        .select("id", "island").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wg = Window.orderBy(sort: _*)
      val ref = df
        .withColumn("pm", max(col("enu"))
          .over(wg.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk",
          when(col("pm").isNull || col("stu") > col("pm"), 1L).otherwise(0L))
        .withColumn("island",
          sum(col("brk")).over(wg.rowsBetween(Window.unboundedPreceding, 0)))
        .select("id", "island").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      dist == ref
    }

  // r10 operators: the IVF assignment and PQ encode cores power both the
  // batch index family and the streaming maintenance ops, so their laws
  // are the contract that keeps those surfaces interchangeable.
  private val vecRows = Gen.listOfN(12,
    Gen.listOfN(8, Gen.choose(-100, 100).map(_ / 25.0f)))
  // PqEncode's subspace split assumes the corpus's 64-dim layout.
  private val vecRows64 = Gen.listOfN(6,
    Gen.listOfN(64, Gen.choose(-100, 100).map(_ / 25.0f)))

  property("IvfAssign: partitioning-invariant, total per-vector rank, zero-norm pairs last") =
    forAll(vecRows) { vs =>
      val emb = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val dbl = transform(col("embedding"), x => x.cast("double"))
      val vecs = emb.select(col("vec_id"), dbl.as("e"))
      // 3 centroids from the first rows plus one DEGENERATE all-zero cell.
      val cent = vecs.filter(col("vec_id") < 3)
        .select(concat(lit("c"), col("vec_id")).as("cell_label"), col("e").as("ce"))
        .unionByName(spark.range(1).select(lit("zzz").as("cell_label"),
          array((1 to 8).map(_ => lit(0.0)): _*).as("ce")))
      def ranked(v: org.apache.spark.sql.DataFrame) =
        graft.operators.IvfAssign.ranked(v, cent)
          .select("vec_id", "cell_label", "crn").collect()
          .map(r => (r.getLong(0), r.getString(1)) -> r.getInt(2)).toMap
      val once = ranked(vecs)
      val reparted = ranked(vecs.repartition(7))
      val ranksTotal = once.groupBy(_._1._1).forall { case (_, cells) =>
        cells.values.toSeq.sorted == (1 to cells.size).toSeq }
      val zeroLast = once.filter(_._1._2 == "zzz").values
        .forall(_ == 4) // the all-zero centroid ranks strictly last
      (once == reparted) && ranksTotal && zeroLast
    }

  property("PqEncode: codes land in trained cells; identical vectors share codes") =
    forAll(vecRows64) { vs0 =>
      // Shrink-proof: PqEncode's subspace split assumes 64 dims — pad or
      // truncate whatever ScalaCheck hands us back to that layout.
      val vs = (if (vs0.isEmpty) List(List.fill(64)(1.0f)) else vs0)
        .map(v => (v ++ List.fill(64)(0.0f)).take(64))
      val emb = (vs ++ vs.take(1)).zipWithIndex // duplicate row 0 under a new id
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      val long = graft.operators.PqEncode.toLong(emb)
      val book = graft.operators.PqEncode.codebook(long, "xq")
      val cells = book.select("sp", "cell").distinct().collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      val code = graft.operators.PqEncode.encode(long, book, "xq").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      val n = vs.size.toLong
      val totality = (0L until n + 1).forall(v => (1L to 8L).forall(sp =>
        code.contains(v -> sp)))
      val inBook = code.forall { case ((_, sp), cw) => cells.contains(sp -> cw) }
      val dupShares = (1L to 8L).forall(sp => code(0L -> sp) == code(n -> sp))
      totality && inBook && dupShares
    }

  property("PqEncode: Lloyd refinement never increases total quantization error") =
    forAll(vecRows64) { vs0 =>
      // The r11 refinement's correctness certificate — Lloyd's theorem
      // per subspace: each refine round (re-assign to nearest codeword,
      // recompute means) must not increase the summed squared
      // quantization error. dec4 rounding of the means can perturb a
      // step by at most the quantization grid, so allow that epsilon.
      val vs = (if (vs0.isEmpty) List(List.fill(64)(1.0f)) else vs0)
        .map(v => (v ++ List.fill(64)(0.0f)).take(64))
      val emb = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val long = graft.operators.PqEncode.toLong(emb)
      def totalErr(rounds: Int): Double = {
        val book = graft.operators.PqEncode.codebook(long, "xq", rounds)
        val code = graft.operators.PqEncode.encode(long, book, "xq")
          .withColumnRenamed("cw", "cell")
        long.join(code, Seq("vec_id", "sp"))
          .join(book, Seq("sp", "cell", "p"))
          .select(sum(((col("xq") - col("c")).cast("double")) *
            ((col("xq") - col("c")).cast("double"))))
          .head().getDouble(0)
      }
      val eps = 1e-4 * vs.size * 64 // one dec4 grid step per coordinate
      val (e0, e1, e2) = (totalErr(0), totalErr(1), totalErr(2))
      (e1 <= e0 + eps) && (e2 <= e1 + eps)
    }
}
