package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.functions.GraftFunctions.{cosine_similarity, dot_product, poly_hash}
import graft.functions.GraftHashImpl

/** The custom Catalyst expressions must be drop-in replacements for the
  * HOF formulations they replaced: identical longs for the hash, identical
  * doubles (bit-for-bit — same IEEE op order) for the vector ops, in both
  * codegen and interpreted evaluation, and reachable from SQL text via the
  * SparkSessionExtensions registration. */
class ExpressionSpec extends AnyFunSuite {
  import TestSpark._

  private val P = GraftHashImpl.P

  private def hofPolyHash(c: org.apache.spark.sql.Column) =
    aggregate(split(c, ""), lit(0L),
      (acc, ch) => (acc * lit(31L) + ascii(ch).cast("long")) % lit(P))

  test("poly_hash equals the HOF formulation on every document and token") {
    val doc = Tables.load(spark, sfDir, "documents")
    val mismatches = doc
      .select(col("text"), explode(split(col("text"), " ")).as("tok"))
      .filter(!(poly_hash(col("text")) <=> hofPolyHash(col("text"))) ||
              !(poly_hash(col("tok")) <=> hofPolyHash(col("tok"))))
      .count()
    assert(mismatches == 0)
  }

  test("poly_hash edge cases: empty string is 0, null is null, range is [0, P)") {
    val df = spark.range(1).select(
      poly_hash(lit("")).as("empty"),
      poly_hash(lit(null).cast("string")).as("n"),
      poly_hash(lit("abc")).as("abc"))
    val r = df.head()
    assert(r.getLong(0) == 0L)
    assert(r.isNullAt(1))
    val expected = ((0L * 31 + 'a') % P * 31 + 'b') % P * 31 + 'c'
    assert(r.getLong(2) == expected % P)
  }

  test("dot_product and cosine_similarity are bit-identical to the HOF formulation") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val a = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val pairs = a.join(emb.filter(col("vec_id") < 100), col("qid") =!= col("vec_id"))
    val hofDot = aggregate(zip_with(col("qe"), col("e"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val hofNorm = (c: org.apache.spark.sql.Column) =>
      sqrt(aggregate(transform(c, x => x * x), lit(0.0), (acc, x) => acc + x))
    val hofCos = hofDot / (hofNorm(col("qe")) * hofNorm(col("e")))
    val bad = pairs.filter(
      !(dot_product(col("qe"), col("e")) <=> hofDot) ||
      !(cosine_similarity(col("qe"), col("e")) <=> hofCos)).count()
    assert(bad == 0, "expression results must be bit-identical to the HOFs")
  }

  /** Run `body` with codegen forced off, restoring the session's PRIOR
    * factoryMode (not a hardcoded value — the default is FALLBACK, and
    * pinning CODEGEN_ONLY here would disable interpreter fallback for
    * every later test in the shared session). */
  private def interpretedOnly[A](body: => A): A = {
    val prior = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally prior.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
      spark.conf.set("spark.sql.codegen.factoryMode", _))
  }

  test("expressions evaluate identically under codegen and interpreted modes") {
    val doc = Tables.load(spark, sfDir, "documents").limit(50)
    def result() = doc.select(col("doc_id"), poly_hash(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withCodegen = result()
    assert(withCodegen == interpretedOnly(result()))
  }

  test("projection over poly_hash stays inside whole-stage codegen") {
    val doc = Tables.load(spark, sfDir, "documents")
    val qe = doc.select(poly_hash(col("text"))).queryExecution
    // WholeStageCodegenExec prints its span as a "*(n)" prefix in the plan
    // tree; a ProjectExec outside codegen would print bare.
    val plan = qe.executedPlan.toString
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"),
      s"plan lost codegen:\n$plan")
  }

  test("MinHashSketch UDAF equals the 8-column builtin min-aggregate sketch") {
    import graft.functions.{MinHashSeeds, MinHashSketch}
    val doc = Tables.load(spark, sfDir, "documents")
    val tok = doc.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", poly_hash(col("tok")))
    val viaUdaf = tok.groupBy(col("doc_id"))
      .agg(MinHashSketch.minhash_sketch(col("h")).as("sig"))
    val mins = MinHashSeeds.As.zip(MinHashSeeds.Bs).map { case (a, b) =>
      min((lit(a) * col("h") + lit(b)) % lit(MinHashSeeds.P))
    }
    val viaBuiltins = tok.groupBy(col("doc_id"))
      .agg(array(mins: _*).as("sig2"))
    val bad = viaUdaf.join(viaBuiltins, "doc_id")
      .filter(!(col("sig") <=> col("sig2"))).count()
    assert(bad == 0, "UDAF signature must be bit-identical to the builtin-min sketch")
  }

  test("SQL registration via SparkSessionExtensions") {
    val r = spark.sql(
      "SELECT graft_poly_hash('abc') AS h, graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
      "graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, graft_morton(5L, 9L) AS z").head()
    val expected = ((0L * 31 + 'a') % P * 31 + 'b') % P * 31 + 'c'
    assert(r.getLong(0) == expected % P)
    assert(r.getDouble(1) == 11.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    // x=5 (0101) in even bit positions -> z0+z4 = 17; y=9 (1001) in odd
    // positions -> z1+z7 = 130; 17+130 = 147.
    assert(r.getLong(3) == 147L)
    // Uniform two-word doc: entropy = ln 2.
    val ent = spark.sql("SELECT graft_word_entropy('a b') AS e").head().getDouble(0)
    assert(math.abs(ent - math.log(2.0)) < 1e-12)
  }

  test("word_entropy is bit-identical to the sorted-fold HOF on every document") {
    import graft.functions.GraftFunctions.word_entropy
    val doc = Tables.load(spark, sfDir, "documents")
    val words = split(col("text"), " ")
    val n = size(words).cast("double")
    // The formulation word_entropy replaced (and the DuckDB twin mirrors):
    // left fold over SORTED distinct words, term = -p·ln(p).
    val hof = aggregate(array_sort(array_distinct(words)), lit(0.0),
      (acc, w) => {
        val p = size(filter(words, x => x === w)).cast("double") / n
        acc - p * log(p)
      })
    val bad = doc.filter(!(word_entropy(col("text")) <=> hof)).count()
    assert(bad == 0, "word_entropy must be bit-identical to the sorted HOF fold")
  }

  test("bloom_might_contain: no false negatives, bounded false positives, parity") {
    import graft.functions.GraftFunctions.bloom_might_contain
    // Build a filter over 10k longs the way dcn_bloom does.
    val members = spark.range(10000).select((col("id") * 2654435761L).as("v"))
    val bloom = members.stat.bloomFilter("v", 10000L, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos); bos.toByteArray
    }
    // NO false negatives: every inserted value must probe true — this is
    // what lets the exact join downstream restore exact semantics.
    val misses = members
      .filter(!bloom_might_contain(col("v"), bytes)).count()
    assert(misses == 0, s"$misses false negatives — bloom contract broken")
    // False-positive rate on 100k disjoint values stays near the declared
    // 1% (generous 3% ceiling: fpp is a design target, not a bound).
    val nonMembers = spark.range(100000).select((col("id") * 2654435761L + 13L).as("v"))
    val fps = nonMembers.filter(bloom_might_contain(col("v"), bytes)).count()
    assert(fps < 3000, s"$fps/100000 false positives — filter is useless")
    // Codegen and interpreted evaluation agree row-for-row.
    def probes() = members.limit(200)
      .select(col("v"), bloom_might_contain(col("v"), bytes).as("p"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val withCodegen = probes()
    assert(withCodegen == interpretedOnly(probes()))
  }

  test("first_sig_digit equals the decimal-string regexp form; codegen parity; edges") {
    import graft.functions.GraftFunctions.first_sig_digit
    val li = Tables.load(spark, sfDir, "lineitem")
    // the expression replaced this exact string path in dq_benford — the
    // two must agree on every ≤2-decimal measure value
    val stringForm = regexp_extract(
      col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
        .cast("string"), "[1-9]", 0)
    val mismatches = li.filter(
      first_sig_digit(col("l_extendedprice")).cast("string") =!= stringForm).count()
    assert(mismatches == 0)
    // codegen/interpreted parity on the corpus
    def digits() = li.limit(200)
      .select(col("l_orderkey"), col("l_linenumber"),
        first_sig_digit(col("l_extendedprice")).as("d"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val withCodegen = digits()
    assert(withCodegen == interpretedOnly(digits()))
    // edges: powers of ten (the log10 hazard), sub-1 values, zero, null,
    // the top of the declared DECIMAL(18,2) domain, and the cents-grain
    // sub-cent rule (0.004 -> 0, matching the twin's '0.00' rendering)
    val r = spark.range(1).select(
      first_sig_digit(lit(1000.0)).as("a"), first_sig_digit(lit(999.99)).as("b"),
      first_sig_digit(lit(0.05)).as("c"), first_sig_digit(lit(0.0)).as("d"),
      first_sig_digit(lit(null).cast("double")).as("e"),
      first_sig_digit(lit(9.99e15)).as("f"),
      first_sig_digit(lit(0.004)).as("g")).head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) == ((1, 9, 5, 0)))
    assert(r.isNullAt(4))
    assert(r.getInt(5) == 9 && r.getInt(6) == 0)
  }

  test("jaro_winkler: known values, edges, symmetry, codegen parity") {
    import graft.functions.GraftFunctions.jaro_winkler
    // Hand-checked values of the standard JW definition (prefix 0.1/4,
    // boost threshold 0.7) — the exact semantics DuckDB's native
    // jaro_winkler_similarity implements (pinned against it on 6000
    // randomized + realistic cases during design, incl. the ''/'' = 0
    // DuckDB edge).
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111), // classic transposition
      ("dixon", "dicksonx", 0.8133333333333332),
      ("abc", "abc", 1.0),
      ("abc", "xyz", 0.0),
      ("", "abc", 0.0),
      ("", "", 0.0)) // DuckDB: empty side → 0, even for ''==''
    def run() = {
      import spark.implicits._
      cases.map(c => (c._1, c._2)).toDF("a", "b")
        .select(jaro_winkler(col("a"), col("b")).as("jw"),
          jaro_winkler(col("b"), col("a")).as("wj"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    }
    val got = run()
    cases.zip(got).foreach { case ((a, b, want), (jw, wj)) =>
      assert(math.abs(jw - want) < 1e-12, s"jw($a,$b) = $jw, want $want")
      assert(jw == wj, s"jw must be symmetric on ($a,$b)")
    }
    assert(got.toSeq == interpretedOnly(run()).toSeq,
      "codegen and interpreted jaro_winkler must agree bit-for-bit")
    // null propagation + SQL registration through GraftExtensions
    val r = spark.sql(
      "SELECT graft_jaro_winkler('crate', 'trace'), graft_jaro_winkler(NULL, 'x')").head()
    assert(math.abs(r.getDouble(0) - 0.7333333333333334) < 1e-12)
    assert(r.isNullAt(1))
  }

  test("gear_cuts: HOF parity on every document; shift alignment; rate; codegen parity; SQL; edges") {
    import graft.functions.GraftFunctions.gear_cuts
    val doc = Tables.load(spark, sfDir, "documents")
    // HOF reference: the positional low-4-bit identity — boundary after
    // position i iff (Σ_{j=0..3} 2^j·G(c_{i−j})) mod 16 = 0 and i ≠ n,
    // with G(b) mod 16 spelled exactly like the DuckDB twin (md5 of the
    // decimal code point mod 256, 15 hex chars, low 4 bits).
    def gl(c: org.apache.spark.sql.Column) =
      transform(split(c, ""), ch =>
        conv(substring(md5(pmod(ascii(ch), lit(256)).cast("string")), 1, 15),
          16, 10).cast("long") % 16)
    // g is MATERIALIZED as a column before the filter lambda references
    // it (5 references per position): HOFs re-evaluate captured subtrees
    // per element, and an inline g would re-run the per-char md5
    // transform O(n) times per position — the repo's own ddp_cdc PLAN
    // LESSON (review r13).
    def hofCuts(g: org.apache.spark.sql.Column) =
      filter(sequence(lit(1), size(g)), i =>
        i =!= size(g) && (
          element_at(g, i)
          + when(i >= 2, lit(2L) * element_at(g, i - 1)).otherwise(0L)
          + when(i >= 3, lit(4L) * element_at(g, i - 2)).otherwise(0L)
          + when(i >= 4, lit(8L) * element_at(g, i - 3)).otherwise(0L)
        ) % 16 === 0)
    val base = graft.core.Tables.pin(doc.filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          gear_cuts(col("text")).as("cuts"), gl(col("text")).as("g")))
      // pin: CollapseProject would otherwise re-inline g into the lambda
      .select(col("doc_id"), col("text"), col("cuts"),
        hofCuts(col("g")).cast("array<int>").as("ref"))
    assert(base.filter(!(col("cuts") <=> col("ref"))).count() == 0,
      "gear_cuts must equal the positional low-4-bit HOF formulation")
    // Mean-rate sanity: boundary probability ~1/16 over the corpus.
    val r = base.agg(
      sum(size(col("cuts"))).as("nb"), sum(length(col("text"))).as("nc")).head()
    val rate = r.getLong(0).toDouble / r.getLong(1)
    assert(rate > 1.0 / 40 && rate < 1.0 / 8, s"boundary rate $rate off ~1/16")
    // THE CDC property, crafted: prepend 3 chars to a doc — boundaries
    // 4+ characters into the shared suffix must align at shifted
    // positions (identical content → identical cuts regardless of
    // offset; a fixed-grid chunker fails exactly this).
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "xy " + a
    val Seq(ca, cb) = Seq(a, b).map(t =>
      spark.range(1).select(gear_cuts(lit(t))).head()
        .getSeq[Int](0).toList)
    val deep = ca.filter(_ > 4)
    assert(deep.nonEmpty, "probe text must produce a deep boundary")
    assert(deep.forall(p => cb.contains(p + 3)),
      s"shifted content must keep its boundaries: $ca vs $cb")
    // Codegen/interpreted parity.
    def cutsOf() = base.select(col("doc_id"), col("cuts")).limit(50)
      .collect().map(r2 => (r2.getLong(0), r2.getSeq[Int](1).toList)).toSet
    assert(cutsOf() == interpretedOnly(cutsOf()))
    // SQL registration + null propagation + empty/short edges: a 1-char
    // string has no legal cut (the only position is the last char).
    val row = spark.sql(
      "SELECT graft_gear_cuts('a'), graft_gear_cuts(NULL), graft_gear_cuts('')").head()
    assert(row.getSeq[Int](0).isEmpty && row.isNullAt(1) && row.getSeq[Int](2).isEmpty)
  }

  test("word_bigrams: HOF parity on every document; codegen parity; SQL; edges") {
    import graft.functions.GraftFunctions.word_bigrams
    val doc = Tables.load(spark, sfDir, "documents")
    // HOF reference: the exact spelling the dedup ladder inlined before
    // the Expression (r14 optimization round) — split keeps empties,
    // zip_with over the two slices, array_distinct's first-occurrence
    // order. Order-sensitive comparison (<=>), not set equality: the
    // winnowing consumer reads positions off this array.
    def hofSh(c: org.apache.spark.sql.Column) = {
      val ws = split(c, " ")
      val bg = zip_with(slice(ws, lit(1), size(ws) - 1),
        slice(ws, lit(2), size(ws) - 1), (a, b) => concat_ws(" ", a, b))
      array_distinct(when(size(ws) >= 2, bg)
        .otherwise(array().cast("array<string>")))
    }
    val base = doc.select(col("doc_id"),
      word_bigrams(col("text")).as("sh"), hofSh(col("text")).as("ref"))
    assert(base.filter(!(col("sh") <=> col("ref"))).count() == 0,
      "word_bigrams must equal the HOF shingle formulation element-for-element")
    // Crafted edges: consecutive spaces (empty-sided bigrams), trailing
    // space (trailing empty word), duplicate bigrams (first-occurrence
    // order), single word and empty string (no bigram).
    val edges = Seq("a b", "a  b", "a b ", "a b a b c", "a", "", " ")
    val er = spark.createDataFrame(edges.map(Tuple1(_))).toDF("t")
      .select(word_bigrams(col("t")).as("sh"), hofSh(col("t")).as("ref"))
    assert(er.filter(!(col("sh") <=> col("ref"))).count() == 0,
      "word_bigrams must match the HOF formulation on the crafted edges")
    // Codegen/interpreted parity.
    def shOf() = base.select(col("doc_id"), col("sh")).limit(50)
      .collect().map(r2 => (r2.getLong(0), r2.getSeq[String](1).toList)).toSet
    assert(shOf() == interpretedOnly(shOf()))
    // SQL registration + null propagation + degenerate edges.
    val row = spark.sql(
      "SELECT graft_word_bigrams('a b c'), graft_word_bigrams(NULL), graft_word_bigrams('')").head()
    assert(row.getSeq[String](0) == Seq("a b", "b c") && row.isNullAt(1) &&
      row.getSeq[String](2).isEmpty)
  }

  test("sorted_intersect_count: array_intersect parity on corpus pairs; codegen parity; SQL; edges") {
    import graft.functions.GraftFunctions.sorted_intersect_count
    val doc = Tables.load(spark, sfDir, "documents")
    // Corpus-pair reference: every (doc, doc+1) token-set pair, the merge
    // count over sorted sets vs builtin size(array_intersect) over the
    // unsorted sets — |a∩b| is order-blind, so the two must agree exactly.
    val sets = doc.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("s"))
    val pairs = sets.select(col("doc_id").as("d1"), col("s").as("a"))
      .join(sets.select((col("doc_id") - 1).as("d1"), col("s").as("b")), Seq("d1"))
    val cmp = pairs.select(
      sorted_intersect_count(array_sort(col("a")), array_sort(col("b"))).as("m"),
      size(array_intersect(col("a"), col("b"))).as("ref"))
    assert(cmp.filter(!(col("m") <=> col("ref"))).count() == 0,
      "sorted_intersect_count must equal size(array_intersect) on sorted distinct sets")
    // Crafted edges: identical, disjoint, empty either side, subset,
    // interleaved, unicode order (UTF8 binary order = array_sort's).
    val edges = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq.empty[String], Seq("a")),
      (Seq("a"), Seq.empty[String]),
      (Seq("b"), Seq("a", "b", "c")),
      (Seq("a", "c", "e"), Seq("b", "c", "d", "e")),
      (Seq("Ä", "a", "é"), Seq("a", "é")))
    val er = spark.createDataFrame(edges).toDF("a", "b")
      .select(
        sorted_intersect_count(array_sort(col("a")), array_sort(col("b"))).as("m"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
    assert(er.filter(!(col("m") <=> col("ref"))).count() == 0,
      "sorted_intersect_count must match array_intersect on the crafted edges")
    // Codegen/interpreted parity.
    def mOf() = cmp.limit(50).collect().map(r2 => (r2.getInt(0), r2.getInt(1))).toSet
    assert(mOf() == interpretedOnly(mOf()))
    // SQL registration + null propagation.
    val row = spark.sql(
      "SELECT graft_sorted_intersect_count(array('a','b'), array('b','c')), " +
        "graft_sorted_intersect_count(NULL, array('a')), " +
        "graft_sorted_intersect_count(array('a'), NULL)").head()
    assert(row.getInt(0) == 1 && row.isNullAt(1) && row.isNullAt(2))
  }

  test("quantile_sketch_eval: bin→merge→rank-query equals the direct aggregate; codegen parity; null edges") {
    // WIN-10's read path: per-bucket serialized summaries merged and
    // rank-queried must equal the DIRECT quantile_sketch aggregate over
    // the same single-partition stream (one partition ⇒ identical update
    // order ⇒ identical deterministic state on both paths — the
    // composition law, exact, no ε needed).
    import graft.functions.QuantileSketch.{quantile_sketch, quantile_sketch_bin, quantile_sketch_eval}
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        floor(col("l_extendedprice").cast("double") * 100.0 + 0.5)
          .cast("long").as("c"))
      .coalesce(1)
    val direct = li.agg(quantile_sketch(col("c"), 0.25, 0.5, 0.99).as("q"))
      .head().getSeq[Long](0).toList
    val viaBin = li.agg(quantile_sketch_bin(col("c")).as("sk"))
      .select(quantile_sketch_eval(array(col("sk")), 0.25, 0.5, 0.99).as("q"))
    def viaBinRes() = viaBin.head().getSeq[Long](0).toList
    assert(viaBinRes() == direct,
      s"bin→eval ${viaBinRes()} != direct $direct")
    // Codegen/interpreted parity on the eval expression.
    assert(viaBinRes() == interpretedOnly(viaBinRes()))
    // Null edges: an all-null array merges to nothing → null; an empty
    // group's bin is null.
    val edge = spark.range(1)
      .select(quantile_sketch_eval(
        array(lit(null).cast("binary")), 0.5).as("q")).head()
    assert(edge.isNullAt(0), "all-null sketch array must evaluate to null")
    val emptyBin = li.filter(col("c") < 0L)
      .agg(quantile_sketch_bin(col("c")).as("sk")).head()
    assert(emptyBin.isNullAt(0), "empty group's bin must be null")
  }

  test("morton_code equals the bit-by-bit interleave reference") {
    import graft.functions.GraftFunctions.morton_code
    def ref(x: Long, y: Long): Long = {
      var z = 0L; var i = 0
      while (i < 16) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    val rows = spark.range(500).select(
      (col("id") * 7919L % 65536L).as("x"),
      (col("id") * 104729L % 65536L).as("y"))
      .withColumn("z", morton_code(col("x"), col("y")))
      .collect()
    rows.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z == ref(x, y), s"morton($x, $y) = $z != ${ref(x, y)}")
    }
  }
}
