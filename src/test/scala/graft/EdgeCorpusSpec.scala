package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Edge-corpus robustness: the document operators run on inputs the
  * synthetic testdata never produces but a real corpus always contains —
  * single-word docs (empty shingle set), a doc that is one repeated word,
  * byte-identical duplicates, cross-language rows — and produce exactly
  * the declared output, not a crash or a silent wrong pair. */
class EdgeCorpusSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("edge_corpus").toString
    import spark.implicits._
    val rows = Seq(
      (1L, "solo", "en", "t", 4L),                        // one word: no shingles
      (2L, "a a a a a", "en", "t", 9L),                   // repeated word: one shingle
      (3L, "the quick brown fox jumps", "en", "t", 25L),  // |
      (4L, "the quick brown fox jumps", "en", "t", 25L),  // | byte-identical pair
      (5L, "the quick brown fox jumped", "en", "t", 26L), // near (bigram jac 0.6)
      (6L, "decon bench doc alpha beta gamma", "en", "t", 32L),
      (100L, "decon bench doc alpha beta gamma", "en", "t", 32L), // benchmark doc
      (7L, "bonjour le monde entier", "fr", "t", 23L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    // Embeddings for the retrieval-fusion edge: vec 7 is the only query
    // (vec_id % 100 == 7) and its cosine to v_i = (1, 0.1i) is strictly
    // decreasing in i, so the dense ranking is exactly 1,2,3,4,5,6,100.
    val vecs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 100L).map(i => (i, Seq(1.0f, 0.1f * i))) :+
      (7L, Seq(1.0f, 0.0f))
    vecs.toDF("vec_id", "embedding")
      .repartition(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def pairs(name: String): Set[(Long, Long, String)] =
    SparkEntry.queries(name)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("freq_mg and freq_topk_exact: vocabulary under k — estimates exact, list complete") {
    // The MG degenerate regime a real corpus hits on tiny shards: when
    // |vocab| ≤ k the summary never decrements, so every estimate is the
    // EXACT count and the candidate set is the whole vocabulary — both
    // queries must agree with the plain groupBy on this corpus.
    import org.apache.spark.sql.functions._
    val exact = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mg = SparkEntry.queries("freq_mg")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(mg.nonEmpty, "freq_mg must emit rows on a non-empty corpus")
    for ((tok, est) <- mg)
      assert(est == exact(tok), s"sub-capacity MG must be exact: $tok $est != ${exact(tok)}")
    val topk = SparkEntry.queries("freq_topk_exact")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val trueTop = exact.toSeq.sortBy { case (t, n) => (-n, t) }.take(20).toSet
    assert(topk == trueTop, s"two-pass top-K differs from the plain top-K")
  }

  test("ddp_minhash: exactly the identical pairs; degenerate docs are silent") {
    assert(pairs("ddp_minhash") ==
      Set((3L, 4L, "1.0000"), (6L, 100L, "1.0000")))
  }

  test("ddp_ngram: bigram jaccard finds the near pair at 0.6") {
    assert(pairs("ddp_ngram") == Set(
      (3L, 4L, "1.0000"), (3L, 5L, "0.6000"), (4L, 5L, "0.6000"),
      (6L, 100L, "1.0000")))
  }

  test("sim2: unigram tau=0.95 keeps only identical sets") {
    assert(pairs("sim2") == Set((3L, 4L, "1.0000"), (6L, 100L, "1.0000")))
  }

  test("ddp_winnow: identical docs pair at 1.0; sub-guarantee overlaps may miss — by theorem") {
    // Every edge doc is shorter than the w+k-1 = 6-word guarantee window,
    // so winnowing only PROMISES the byte-identical pairs; the 4-word
    // shared run of docs 3/5 selects different minima (verified offline:
    // doc 3 winnows to h("brown fox jumps"), doc 5 to h("quick brown
    // fox")) and correctly does not pair. Degenerate docs (one word → no
    // grams; repeated word → one trivial fingerprint) are silent.
    val got = SparkEntry.queries("ddp_winnow")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    assert(got == Set((3L, 4L, "1.0000"), (6L, 100L, "1.0000")), s"got $got")
  }

  test("dcn1: the full-containment quote of the benchmark doc is flagged") {
    assert(pairs("dcn1") == Set((6L, 100L, "1.0000")))
  }

  test("dcn_bloom: identical rows to dcn1 — the prefilter is invisible in the output") {
    assert(pairs("dcn_bloom") == pairs("dcn1"))
  }

  test("ddp_segment: only docs with >=1 segment appear; sub-8-word docs are silent") {
    // Every doc in the edge corpus is shorter than 8 words — no segments,
    // no rows, no crash (the sequence(0,-1) guard path).
    assert(SparkEntry.queries("ddp_segment")(spark, dir).count() == 0)
  }

  test("txt_entropy: repeated-word doc scores 0; uniform doc scores ln(k)") {
    val rows = SparkEntry.queries("txt_entropy")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(rows(2L) == ((5, 1, "0.0000")), s"repeated word: ${rows(2L)}")
    // 5 distinct words, p=0.2 each: entropy = ln 5 = 1.6094...
    assert(rows(3L) == ((5, 5, "1.6094")), s"uniform: ${rows(3L)}")
    assert(rows(1L) == ((1, 1, "0.0000")), s"single word: ${rows(1L)}")
  }

  test("lm_score: repeated-template doc scores lower surprisal than diverse prose") {
    val rows = SparkEntry.queries("lm_score")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(2).toDouble).toMap
    // doc 1 ("solo") has no bigrams — absent, not crashed.
    assert(!rows.contains(1L), "bigram-less doc must be absent")
    // "a a a a a" repeats one bigram 4x — its surprisal must sit below the
    // diverse 5-word docs' (the low tail a template filter trims).
    assert(rows(2L) < rows(3L), s"template ${rows(2L)} !< prose ${rows(3L)}")
  }

  test("smp1: splits partition the corpus (8 docs)") {
    val n = SparkEntry.queries("smp1")(spark, dir)
      .collect().map(_.getLong(2)).sum
    assert(n == 8L)
  }

  test("scrub_segments: identical-pair docs vanish whole, unique docs survive intact") {
    // Every edge doc is shorter than 8 words, so each is exactly ONE
    // segment = its whole text. The byte-identical pairs (3,4) and
    // (6,100) make their single segment df=2 -> both docs scrub to
    // nothing and VANISH (C4 semantics); the unique docs survive with
    // their text unchanged (md5 of the original).
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = SparkEntry.queries("scrub_segments")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    assert(rows.keySet == Set(1L, 2L, 5L, 7L), s"survivors: ${rows.keySet}")
    assert(rows(1L) == ((1, 1L, md5hex("solo"))))
    assert(rows(5L) == ((1, 1L, md5hex("the quick brown fox jumped"))))
  }

  test("bm25: a query sharing no terms with any other doc retrieves nothing") {
    // The only query-set doc (doc_id % 100 == 7) is the French row; its
    // terms appear in no other document, so the posting join finds zero
    // candidates — empty result, not a crash and not a self-match.
    assert(SparkEntry.queries("bm25")(spark, dir).count() == 0)
  }

  test("retrieve_rrf: a query with no lexical matches ranks by the dense list alone") {
    // Doc 7 is the only query (id % 100 == 7) and shares no tokens with
    // any other doc (it's the French row), so its BM25 list is EMPTY —
    // the fusion must come entirely from the dense side via the full
    // outer join: r_bm25 null on every row, r_cos = rn, rrf = 1/(60+rn).
    val rows = SparkEntry.queries("retrieve_rrf")(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rn"), r.getAs[Long]("doc_id"),
        Option(r.getAs[Integer]("r_bm25")), r.getAs[Int]("r_cos"), r.getAs[String]("rrf")))
    val expected = (1 to 5).map { rn =>
      val rrf = f"${math.floor(1.0 / (60 + rn) * 10000 + 0.5) / 10000}%.4f"
      (7L, rn, rn.toLong, None, rn, rrf)
    }
    assert(rows.sortBy(_._2).toSeq == expected,
      s"got ${rows.sortBy(_._2).toSeq} expected $expected")
  }

  test("hard_negatives: with an empty BM25 list nothing is excluded — dense top-3 survive") {
    // Degenerate mining input: the query's relevant set is empty (no
    // shared tokens), so the anti-join must exclude NOTHING and the
    // negatives are simply the 3 dense-nearest docs in cosine order.
    val rows = SparkEntry.queries("hard_negatives")(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rn"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("r_cos")))
    assert(rows.sortBy(_._2).toSeq == Seq((7L, 1, 1L, 1), (7L, 2, 2L, 2), (7L, 3, 3L, 3)),
      s"got ${rows.sortBy(_._2).toSeq}")
  }

  test("empty corpus: document operators return empty, never throw") {
    val d = Files.createTempDirectory("empty_corpus").toString
    import spark.implicits._
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    for (q <- Seq("ddp_minhash", "ddp_ngram", "sim2", "dcn1", "dcn_bloom",
        "ddp_segment", "ddp_incr", "ddp_incr_best", "txt_entropy", "lm_score",
        "pack_bins", "pipeline_curate", "smp1", "smp2",
        "txt1", "txt_langid", "ddp_cluster", "pipeline_clean",
        "txt_repetition", "pack1", "tfidf1", "src1",
        "txt_norm", "txt_pii", "smp_rate", "smp_weighted", "freq_cms",
        "scrub_segments", "bm25", "chunk_overlap", "mix_plan",
        "txt_mask", "split_assign", "curriculum"))
      assert(SparkEntry.queries(q)(spark, d).count() == 0, s"$q not empty")
  }

  test("drift_psi: constant-value corpus degrades to zero drift, never NaN-bins") {
    // width-0 edge: every value identical — without the guard the bin
    // expression is (v-vmin)/0 = NaN and the ANSI int cast throws.
    val d = Files.createTempDirectory("drift_const").toString
    import spark.implicits._
    Seq((1L, "2024-01-01 01:00:00", 1L, "view", 5.0, "{}"),
        (2L, "2024-01-01 02:00:00", 2L, "view", 5.0, "{}"),
        (3L, "2024-01-01 03:00:00", 1L, "view", 5.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts_s").cast("timestamp"))
      .drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("drift_psi")(spark, d).collect()
    assert(out.length == 10)
    // mid = 02:00 -> halves split 1 / 2; all rows land in bin 0
    assert(out.map(_.getLong(1)).sum == 1 && out.map(_.getLong(2)).sum == 2)
    // p = 1/1, q = 2/2 in bin 0: equal distributions, zero drift
    out.foreach(r => assert(r.getString(5).toDouble == 0.0, s"chi2 nonzero: $r"))
  }

  test("drift_ks: constant-value corpus reads D=0/no-reject; one-half corpus is empty, not a throw") {
    import spark.implicits._
    def events(rows: Seq[(Long, String, Double)]): String = {
      val d = Files.createTempDirectory("ks_edge").toString
      rows.map { case (id, ts, v) => (id, ts, 1L, "view", v, "{}") }
        .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
        .withColumn("ts", org.apache.spark.sql.functions.col("ts_s").cast("timestamp"))
        .drop("ts_s")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      d
    }
    // Identical distributions in both halves: one distinct value, both
    // ECDFs step 0→1 together — D is exactly 0 and the test cannot reject.
    val const = SparkEntry.queries("drift_ks")(spark, events(Seq(
      (1L, "2024-01-01 01:00:00", 5.0), (2L, "2024-01-01 02:00:00", 5.0),
      (3L, "2024-01-01 03:00:00", 5.0)))).head()
    assert(const.getString(2) == "0.0000" && !const.getBoolean(4), s"got $const")
    // ≤1µs span: mid == min ts, half A is empty, the ECDF is undefined —
    // the NULLIF guard must yield the engine-consistent empty result, not
    // an ANSI Infinity→decimal throw.
    val oneHalf = SparkEntry.queries("drift_ks")(spark, events(Seq(
      (1L, "2024-01-01 01:00:00", 1.0), (2L, "2024-01-01 01:00:00", 5.0))))
    assert(oneHalf.isEmpty, "undefined KS must degrade to empty")
  }

  test("vec_norm_drift: equal norms in both parity halves read D=0/no-reject; one-half corpus is empty, not a throw") {
    import spark.implicits._
    def embeddings(rows: Seq[(Long, Seq[Float])]): String = {
      val d = Files.createTempDirectory("ks_norm_edge").toString
      rows.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    // Every vector has norm exactly 5, two in each vec_id parity half: one
    // distinct value, both ECDFs step 0→1 together — D is exactly 0.
    val const = SparkEntry.queries("vec_norm_drift")(spark, embeddings(Seq(
      (1L, Seq(3.0f, 4.0f)), (2L, Seq(4.0f, 3.0f)),
      (3L, Seq(0.0f, 5.0f)), (4L, Seq(5.0f, 0.0f))))).head()
    assert(const.getLong(0) == 2L && const.getLong(1) == 2L, s"got $const")
    assert(const.getString(2) == "0.0000" && !const.getBoolean(4), s"got $const")
    // Only even vec_ids: the odd half is empty and its ECDF undefined — the
    // NULLIF guard must yield the empty result, not an ANSI
    // Infinity→decimal throw.
    val oneHalf = SparkEntry.queries("vec_norm_drift")(spark, embeddings(Seq(
      (2L, Seq(1.0f, 0.0f)), (4L, Seq(0.0f, 2.0f)))))
    assert(oneHalf.isEmpty, "undefined KS must degrade to empty")
  }

  test("lm_buckets: a single-doc language lands in head; sub-bigram docs are silent") {
    val out = SparkEntry.queries("lm_buckets")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(4)))
    // doc 1 ("solo") has no bigrams → unscored → unrouted, like lm_score
    assert(!out.exists(_._1 == 1L), "sub-bigram doc must not be routed")
    assert(out.length == 7, s"7 scored docs, got ${out.length}")
    // fr has ONE doc: both tertile cuts equal its own score → head by rule
    val Seq(fr) = out.filter(_._2 == "fr").toSeq
    assert(fr._3 == "head", s"single-doc language bucket: $fr")
  }

  test("ddp_semantic: routing laws hold on 2-d vectors with near-collinear clusters") {
    val out = SparkEntry.queries("ddp_semantic")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getLong(3)))
    assert(out.length == 8, "one routing row per vector")
    out.foreach { case (v, _, dup, nl) => assert(dup == (nl > 0), s"vec $v") }
    out.groupBy(_._2).foreach { case (cid, ms) =>
      assert(!ms.minBy(_._1)._3, s"cluster $cid lowest member flagged dup")
    }
    // Near-collinear 2-d vectors: every non-representative IS a duplicate
    // at τ=0.4 — the dedup provably fires on this corpus.
    assert(out.count(_._3) > 0, "no duplicate flagged on a near-collinear corpus")
  }

  test("graph_triangles: empty fact table yields the all-zero census, never null") {
    val d = Files.createTempDirectory("tri_empty").toString
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Int, Double, Double, Double, Double,
        String, String, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val r = SparkEntry.queries("graph_triangles")(spark, d).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((0L, 0L, 0L, 0L)))
    // the same empty fact table must not crash the ANSI-division stats:
    // dq_benford keeps its 9-row spine with NULL frequencies (total is a
    // NULL sum, not a 0.0 the spine rows would divide by); corr_matrix and
    // quantile_bin return their degenerate-but-defined shapes
    val bf = SparkEntry.queries("dq_benford")(spark, d).collect()
    assert(bf.length == 9 && bf.forall(r2 => r2.getLong(1) == 0 && r2.isNullAt(2)))
    assert(SparkEntry.queries("corr_matrix")(spark, d).count() == 6)
    assert(SparkEntry.queries("quantile_bin")(spark, d).count() == 0)
  }

  test("ab_lift: a single-parity corpus degrades the empty arm to NULL, never throws") {
    val d = Files.createTempDirectory("ab_one_arm").toString
    import spark.implicits._
    Seq((1L, "2024-01-01 01:00:00", 2L, "purchase", 1.0, "{}"),
        (2L, "2024-01-01 02:00:00", 2L, "error", 1.0, "{}"),
        (3L, "2024-01-01 03:00:00", 4L, "purchase", 2.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts_s").cast("timestamp"))
      .drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val r = SparkEntry.queries("ab_lift")(spark, d).head()
    // both users are even -> treatment arm (parity 1) is empty
    assert(r.getLong(0) == 2 && r.getLong(2) == 0)
    assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7), s"got $r")
  }

  test("drift_psi: a <=1us time span puts all rows in one half and yields NULL, not a throw") {
    val d = Files.createTempDirectory("drift_one_half").toString
    import spark.implicits._
    Seq((1L, "2024-01-01 01:00:00", 1L, "view", 1.0, "{}"),
        (2L, "2024-01-01 01:00:00", 1L, "view", 5.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts_s").cast("timestamp"))
      .drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("drift_psi")(spark, d).collect()
    assert(out.length == 10)
    // mid == min ts: no row is strictly earlier, so half A is empty
    assert(out.map(_.getLong(1)).sum == 0 && out.map(_.getLong(2)).sum == 2)
    out.foreach(r => assert(r.isNullAt(3), s"p_a should be NULL: $r"))
  }

  test("corr_matrix: a zero-variance column yields NULL correlations, never throws") {
    val d = Files.createTempDirectory("corr_const").toString
    import spark.implicits._
    Seq((1L, 1L, 1L, 1, 5.0, 100.0, 0.05, 0.02, "N", "O", "2024-01-01"),
        (2L, 2L, 2L, 1, 7.0, 150.0, 0.05, 0.02, "N", "O", "2024-01-02"),
        (3L, 3L, 3L, 1, 9.0, 300.0, 0.05, 0.02, "N", "O", "2024-01-03"))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate_s")
      .withColumn("l_shipdate",
        org.apache.spark.sql.functions.col("l_shipdate_s").cast("timestamp"))
      .drop("l_shipdate_s")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val rows = SparkEntry.queries("corr_matrix")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2))))
    assert(rows.length == 6)
    rows.foreach { case (a, b, c) =>
      // any pair touching the constant discount/tax columns is undefined
      if (a == "l_discount" || a == "l_tax" || b == "l_discount" || b == "l_tax")
        assert(c.isEmpty, s"($a,$b) should be NULL")
      else assert(c.nonEmpty, s"($a,$b) should be defined")
    }
  }

  test("txt_norm: punctuation-only and empty docs normalize to the empty fixpoint") {
    val d = Files.createTempDirectory("norm_edge").toString
    import spark.implicits._
    Seq((1L, "!!! ... ???", "en", "t", 11L),
        (2L, "", "en", "t", 0L),
        (3L, "  A  b!! C  ", "en", "t", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("txt_norm")(spark, d)
      .collect().map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(4)))).toMap
    // All-punctuation and empty text both land on ("", 0 chars, 0 tokens) —
    // the rows survive (a cleaning pipeline filters them EXPLICITLY on
    // norm_tokens=0, it does not lose them to a crash).
    assert(rows(1L) == ((0, 0)), s"punct-only: ${rows(1L)}")
    assert(rows(2L) == ((0, 0)), s"empty: ${rows(2L)}")
    assert(rows(3L) == (("a b c".length, 3)), s"mixed: ${rows(3L)}")
  }

  test("txt_repetition: single-word and repeated-word docs get the declared fractions") {
    val rows = SparkEntry.queries("txt_repetition")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    // one word: nothing repeats, bigram fraction defined to 0 (guard path)
    assert(rows(1L) == ("0.0000", "1.0000", "0.0000"))
    // "a a a a a": 4/5 words are repeats, top word is all the mass, all 4
    // bigrams are the same one
    assert(rows(2L) == ("0.8000", "1.0000", "0.7500"))
    // 5 distinct words: no repetition anywhere
    assert(rows(3L) == ("0.0000", "0.2000", "0.0000"))
  }

  test("pack1: short docs yield one bounded chunk with exact bounds") {
    val rows = SparkEntry.queries("pack1")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getString(3), r.getString(4))).toMap
    assert(rows((1L, 0)) == (1, "solo", "solo"))
    assert(rows((3L, 0)) == (5, "the", "jumps"))
    assert(rows.keys.count(_._1 == 2L) == 1, "5 tokens -> exactly one chunk")
  }

  test("src1: cap larger than the source keeps everything") {
    val rows = SparkEntry.queries("src1")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows == Map("t" -> ((8L, 8L))), "8 docs in one source, cap 10: all kept")
  }

  test("Tables.load normalizes TIMESTAMP_NTZ event times from foreign writers") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val d = Files.createTempDirectory("ntz_events").toString
    val src = graft.core.Tables.load(spark, sfDir, "events").limit(500)
      .withColumn("ts", col("ts").cast(TimestampNTZType))
    src.write.mode("overwrite").parquet(s"$d/events.parquet")
    val loaded = graft.core.Tables.load(spark, d, "events")
    assert(loaded.schema("ts").dataType == TimestampType)
    // a ts-arithmetic query (win4 pattern) runs and matches the original
    val out = SparkEntry.queries("win4")(spark, d)
    assert(out.count() == 500)
  }

  test("ddp_cluster: one row per doc; the identical docs share a cluster") {
    val rows = SparkEntry.queries("ddp_cluster")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 8)
    assert(rows(3L) == rows(4L) && rows(3L) == 3L)
    assert(rows(6L) == rows(100L) && rows(6L) == 6L)
    assert(rows(1L) == 1L && rows(2L) == 2L)
  }

  test("txt_langid_ngram: sub-trigram docs predict 'und' with zero overlap, one row each") {
    import spark.implicits._
    val d = Files.createTempDirectory("edge_lid").toString
    Seq(
      (1L, "", "en", "t", 0L),            // empty: no trigrams at all
      (2L, "ab", "en", "t", 2L),          // below trigram length
      (3L, "the quick brown fox and the lazy dog", "en", "t", 37L),
      (4L, "bonjour le monde entier mon ami", "fr", "t", 31L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("txt_langid_ngram")(spark, d)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("pred_lang"), r.getAs[Long]("overlap"))).toMap
    assert(rows.size == 4, "every doc gets exactly one prediction row")
    assert(rows(1L) == ("und", 0L) && rows(2L) == ("und", 0L),
      "docs shorter than a trigram must fall out as 'und', not crash the sequence()")
    // With full-corpus-sized profiles (≤20 per lang covers every trigram
    // here), each long doc overlaps its own language's profile most.
    assert(rows(3L)._1 == "en" && rows(4L)._1 == "fr")
  }

  test("event edge corpus: interval-family boundary laws and PIT on degenerate inputs") {
    // Crafted stream covering every boundary the IVL family declares:
    // single-event sessions (zero-width islands), a gap of EXACTLY 1800 s
    // (must NOT split — the rule is > 1800), 1801 s (must split), an
    // overlap (peak concurrency 2), and a TOUCHING island (fuses: an
    // island ends only when the next start is strictly after everything
    // seen), plus PIT purchases including a user whose only event is the
    // purchase itself.
    val d = Files.createTempDirectory("edge_events").toString
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq(
      (1L, t("2024-06-01 10:00:00"), 1L, "purchase", 1.0, "{}"),
      (2L, t("2024-06-01 11:00:00"), 2L, "view", 1.0, "{}"),
      (3L, t("2024-06-01 11:30:00"), 2L, "purchase", 1.0, "{}"),
      (4L, t("2024-06-01 13:00:00"), 3L, "view", 1.0, "{}"),
      (5L, t("2024-06-01 13:30:01"), 3L, "view", 1.0, "{}"),
      (6L, t("2024-06-01 15:00:00"), 4L, "view", 1.0, "{}"),
      (7L, t("2024-06-01 15:20:00"), 4L, "view", 1.0, "{}"),
      (8L, t("2024-06-01 15:10:00"), 5L, "view", 1.0, "{}"),
      (9L, t("2024-06-01 15:40:00"), 5L, "view", 1.0, "{}"),
      (10L, t("2024-06-01 15:40:00"), 6L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode("overwrite").parquet(s"$d/events.parquet")

    // Islands: u1 alone; u2's 1800s gap does NOT split; u3's 1801s DOES;
    // u4/u5 overlap and u6 touches u5's end → one 3-session island.
    val isl = SparkEntry.queries("ivl_merge")(spark, d).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString.substring(0, 19),
        r.getTimestamp(2).toString.substring(0, 19), r.getLong(3), r.getLong(4)))
    assert(isl.toSet == Set(
      (1L, "2024-06-01 10:00:00", "2024-06-01 10:00:00", 1L, 0L),
      (2L, "2024-06-01 11:00:00", "2024-06-01 11:30:00", 1L, 1800000000L),
      (3L, "2024-06-01 13:00:00", "2024-06-01 13:00:00", 1L, 0L),
      (4L, "2024-06-01 13:30:01", "2024-06-01 13:30:01", 1L, 0L),
      (5L, "2024-06-01 15:00:00", "2024-06-01 15:40:00", 3L, 2400000000L)),
      s"islands: ${isl.toSet}")

    // Gaps: exactly the 4 quiet intervals, exact µs widths.
    val gaps = SparkEntry.queries("ivl_gaps")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(gaps == Map(1L -> 3600000000L, 2L -> 5400000000L,
      3L -> 1801000000L, 4L -> 5399000000L), s"gaps: $gaps")

    // Concurrency: peak 2, first reached at the u4∩u5 overlap start.
    val Array(conc) = SparkEntry.queries("ivl_concurrency")(spark, d).collect()
    assert(conc.getLong(0) == 2L &&
      conc.getTimestamp(1).toString.startsWith("2024-06-01 15:10:00") &&
      conc.getLong(2) == 7L, s"concurrency: $conc")

    // PIT: both purchases enriched; the single-event user's purchase sees
    // its OWN state (valid_from = its instant, the boundary case).
    val pit = SparkEntry.queries("scd2_pit")(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(3),
        r.getTimestamp(4).toString.substring(0, 19))).toSet
    assert(pit == Set(
      (1L, "purchase", "2024-06-01 10:00:00"),
      (3L, "purchase", "2024-06-01 11:30:00")), s"pit: $pit")
  }

  test("vec_pq: code length follows the dimensionality — 2-d vectors get one subspace") {
    // The edge embeddings are 2-dimensional: the subspace split must yield
    // ceil(2/8) = 1 code, not pad to 8 or crash on missing positions.
    val rows = SparkEntry.queries("vec_pq")(spark, dir).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val code = r.getAs[String]("code").split("-")
      assert(code.length == 1, s"2-d vector must quantize to one subspace code: ${code.mkString("-")}")
      // Only dims 1-2 exist, so the sign-seeded cell uses bits 8 and 4.
      assert(Set(0, 4, 8, 12).contains(code.head.toInt),
        s"cell ${code.head} impossible from 2 sign bits")
      assert(BigDecimal(r.getAs[String]("err_rel")) < 1)
    }
  }
}
