package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic laws for the round-4 pipeline operators, asserted against
  * brute-force recomputation on the sf0.001 slice (the DuckDB oracle
  * certifies values; these certify the DECLARED properties hold — the
  * blocking scheme loses nothing, the split partitions the corpus, and
  * reruns are bit-stable). */
class PipelineOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("fzj1: deletion-neighborhood blocking is exact vs brute force") {
    val out = SparkEntry.queries("fzj1")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val names = graft.core.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def lev1(a: String, b: String): Boolean =
      a.length == b.length && a.zip(b).count { case (x, y) => x != y } <= 1
    val brute = (for {
      (c1, n1) <- names; (c2, n2) <- names
      if c1 < c2 && lev1(n1, n2)
    } yield (c1, c2, n1.zip(n2).count { case (x, y) => x != y })).toSet
    assert(out == brute,
      s"blocked=${out.size} brute=${brute.size} missing=${(brute -- out).take(3)}")
  }

  test("fzj_cluster: entity assignment is the component closure of the fzj1 pair list") {
    // One row per customer; every fzj1 pair lands in one entity; entity_id
    // is the component minimum; keepers are exactly the entity ids. This is
    // the linear-output scale path for fzj1 (SURVEY §4.4.8) — the pair list
    // goes quadratic on duplicate-heavy corpora, the assignment never does.
    val assign = SparkEntry.queries("fzj_cluster")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
    val nCust = graft.core.Tables.load(spark, sfDir, "customer").count()
    assert(assign.length == nCust, s"${assign.length} rows for $nCust customers")
    val entity = assign.toMap.map { case (c, (e, _)) => c -> e }
    val pairs = SparkEntry.queries("fzj1")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(entity(a) == entity(b), s"pair ($a,$b) split across entities")
    }
    // Component minimum: an entity id is the smallest member of its group.
    entity.groupBy(_._2).foreach { case (e, members) =>
      assert(members.keys.min == e, s"entity $e is not its component min")
    }
    val keepers = assign.collect { case (c, (_, true)) => c }.toSet
    assert(keepers == entity.values.toSet, "keepers != entity ids")
  }

  test("ddp_incr: exactly the full pair set restricted to batch-touching pairs") {
    // The asymmetric newBands ⋈ allBands probe must lose nothing and add
    // nothing versus the full self-join: its verified pairs are precisely
    // ddp_minhash's with >=1 batch (doc_id % 10 == 7) side, and vs_corpus
    // marks the pairs with a standing-corpus side.
    val full = SparkEntry.queries("ddp_minhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val incr = SparkEntry.queries("ddp_incr")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3)))
    val expected = full.filter { case (d1, d2, _) => d1 % 10 == 7 || d2 % 10 == 7 }
    assert(incr.map(t => (t._1, t._2, t._3)).toSet == expected,
      s"incr=${incr.length} expected=${expected.size}")
    incr.foreach { case (d1, d2, _, vsCorpus) =>
      assert(vsCorpus == !(d1 % 10 == 7 && d2 % 10 == 7),
        s"vs_corpus wrong for ($d1,$d2)")
    }
  }

  test("pack_bins: packing conserves tokens, bins are contiguous and dense") {
    val rows = SparkEntry.queries("pack_bins")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val totalTokens = graft.core.Tables.load(spark, sfDir, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    assert(rows.map(_._4).sum == totalTokens, "tokens lost or duplicated in packing")
    for ((g, bins) <- rows.groupBy(_._1)) {
      val ids = bins.map(_._2).sorted.toSeq
      assert(ids == (0L until ids.length.toLong),
        s"group $g bins not contiguous from 0: ${ids.take(5)}")
      // Ordered fill density: every bin except the group's last one spans a
      // full 512-token boundary, so only the tail bin can be sparse.
      val nonLast = bins.filter(_._2 < ids.last)
      if (nonLast.nonEmpty)
        assert(nonLast.map(_._4).sum >= 512L * nonLast.length * 9 / 10,
          s"group $g non-tail bins too sparse")
    }
  }

  test("chunk_overlap: sliding windows cover every token and overlap by exactly C-S") {
    val C = 32; val S = 24
    val out = SparkEntry.queries("chunk_overlap")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getString(5)))
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    // Brute-force twin: starts 0, S, 2S, … with the last start below n.
    val expected = docs.flatMap { case (id, w) =>
      val n = w.length
      val nc = if (n <= C) 1 else math.ceil((n - C).toDouble / S).toInt + 1
      (0 until nc).map { i =>
        val ch = w.slice(i * S, math.min(i * S + C, n))
        (id, i, i * S, ch.length, ch.head, ch.last)
      }
    }.toSet
    assert(out.toSet == expected, s"out=${out.length} expected=${expected.size}")
    // The overlap law: consecutive chunks of the same doc share C-S tokens
    // (except a short tail chunk, which may overlap more of the previous
    // window but still starts exactly S later).
    for ((_, chunks) <- out.groupBy(_._1); ch <- chunks.sortBy(_._2).sliding(2)
         if ch.length == 2)
      assert(ch(1)._3 - ch(0)._3 == S, s"stride broken: $ch")
  }

  test("scrub_segments: rebuild equals brute-force C4 scrub, order preserved") {
    val out = SparkEntry.queries("scrub_segments")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    def segsOf(w: Array[String]): Vector[String] =
      (0 until math.ceil(w.length / 8.0).toInt)
        .map(i => w.slice(i * 8, math.min(i * 8 + 8, w.length)).mkString(" ")).toVector
    val dfCount = docs.values.flatMap(w => segsOf(w).distinct).toSeq
      .groupBy(identity).map { case (s, xs) => s -> xs.size }
    val expected = docs.flatMap { case (id, w) =>
      val all = segsOf(w)
      val kept = all.filter(s => dfCount(s) < 2) // order-preserving
      if (kept.isEmpty) None
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(kept.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        Some(id -> ((all.length, kept.length.toLong, md)))
      }
    }
    assert(out == expected,
      s"out=${out.size} expected=${expected.size} " +
        s"first_diff=${(expected.toSet -- out.toSet).take(1)}")
  }

  test("mix_plan: scarcest language keeps everything, others downsample to its token count") {
    val rows = SparkEntry.queries("mix_plan")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getString(5)))
    val inv = graft.core.Tables.load(spark, sfDir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("d"), sum(size(split(col("text"), " ")).cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val minTok = inv.values.map(_._2).min
    assert(rows.length == inv.size)
    for ((lang, nDocs, nTok, _, target, rate) <- rows) {
      assert((nDocs, nTok) == inv(lang), s"$lang inventory mismatch")
      assert(target == minTok, s"$lang target $target != min $minTok")
      assert(rate.toDouble <= 1.0 + 1e-9, s"$lang upsamples: $rate")
      if (nTok == minTok) assert(rate == "1.0000", s"scarcest lang rate $rate")
    }
  }

  test("ddp_cluster: reliable-checkpoint mode matches localCheckpoint and writes to the dir") {
    // At 1000-executor scale, losing an executor mid-iteration is routine;
    // localCheckpoint blocks die with it. The reliable mode must produce
    // identical clusters while actually persisting round state to the
    // configured checkpoint directory.
    val dflt = graft.queries.LlmOps.all("ddp_cluster")(spark, sfDir)
    val dir = tempDir("reliable_ckpt")
    spark.conf.set("spark.graft.cluster.checkpointDir", dir.toString)
    try {
      val reliable = graft.queries.LlmOps.all("ddp_cluster")(spark, sfDir)
      assertSameRows(dflt, reliable, "reliable vs local checkpoint clusters")
      // Prove the reliable path ran: RDD checkpoint files landed in dir.
      val wrote = java.nio.file.Files.walk(dir).iterator()
      val n = Iterator.continually(wrote).takeWhile(_.hasNext).map(_.next()).size
      assert(n > 1, s"expected checkpoint files under $dir")
    } finally spark.conf.unset("spark.graft.cluster.checkpointDir")
  }

  test("ddp_cluster: the bucketCap star mode is result-identical and linear on cliques") {
    // r10 (verdict task): bound the dense-clique edge amplification. A
    // band bucket of k near-identical docs emits k(k-1)/2 candidate pairs;
    // with spark.graft.dedup.bucketCap set, oversized buckets emit the
    // k-1 star edges (bucket-min → member) instead — connectivity-
    // equivalent for component assignment when the clique is real.
    val doc = graft.core.Tables.load(spark, sfDir, "documents")
    // (a) Result identity on the corpus: capped clusters == default
    // clusters even with a cap small enough to rewrite real buckets.
    val dflt = graft.queries.LlmOps.all("ddp_cluster")(spark, sfDir)
    spark.conf.set("spark.graft.dedup.bucketCap", "2")
    try {
      val capped = graft.queries.LlmOps.all("ddp_cluster")(spark, sfDir)
      assertSameRows(dflt, capped, "bucketCap star mode vs all-pairs clusters")
    } finally spark.conf.unset("spark.graft.dedup.bucketCap")
    // (b) Edge linearity on a crafted clique: 60 identical docs — the
    // degenerate bucket the cap exists for. Star mode must emit exactly
    // k-1 verified edges where all-pairs emits k(k-1)/2.
    import spark.implicits._
    val k = 60
    val clique = (1 to k).map(i =>
        (i.toLong, "identical near dup payload words repeated enough to shingle cleanly",
          "en", "crafted", 64L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val allPairs = graft.queries.LlmOps
      .minhashPairs(clique, useUdaf = false, capBuckets = true).count()
    assert(allPairs == k.toLong * (k - 1) / 2,
      s"uncapped clique must emit k(k-1)/2 pairs, got $allPairs")
    spark.conf.set("spark.graft.dedup.bucketCap", "8")
    try {
      val starPairs = graft.queries.LlmOps
        .minhashPairs(clique, useUdaf = false, capBuckets = true).count()
      assert(starPairs == (k - 1).toLong,
        s"capped clique must emit k-1 star edges, got $starPairs")
      // And the components are identical either way: one cluster, min keeper.
      val clusters = graft.queries.LlmOps.clusterAssign(clique,
        graft.queries.LlmOps.minhashPairs(clique, useUdaf = false, capBuckets = true))
      assert(clusters.select(col("cluster_id")).distinct().count() == 1,
        "the clique must collapse to one component under star edges")
    } finally spark.conf.unset("spark.graft.dedup.bucketCap")
  }

  test("query builders leave the session conf alone: ddp_minhash_udaf, ddp_cluster, pipeline_clean") {
    // A conf a builder writes outlives its query: every later query of the
    // Verify, Bench or test session would run under it.
    val before = spark.conf.getAll
    Seq("ddp_minhash_udaf", "ddp_cluster", "pipeline_clean").foreach { q =>
      assert(SparkEntry.queries(q)(spark, sfDir).collect().nonEmpty, s"$q is empty")
      val after = spark.conf.getAll
      val set = after.toSet -- before.toSet
      val unset = before.keySet -- after.keySet
      assert(set.isEmpty && unset.isEmpty,
        s"$q changed the session conf: set $set, unset $unset")
    }
  }

  test("ivf_pq: shipped exact scores equal brute-force cosine; ADC is a true approximation") {
    // Consistency-with-certified-surface law (ann_ndcg's rule): the
    // composed index may APPROXIMATE candidate selection, but the exact
    // re-rank scores it ships must be bit-identical (at dec4 render) to
    // the brute-force cosine of the same (query, neighbor) pairs.
    import graft.core.Tables.dec4S
    import graft.functions.GraftFunctions.dot_product
    val pq = graft.queries.LlmOps.all("ivf_pq")(spark, sfDir)
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val base = emb.select(col("vec_id"), dbl.as("e"))
      .withColumn("nrm", sqrt(dot_product(col("e"), col("e"))))
    val joined = pq
      .join(base.select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn")), Seq("query_id"))
      .join(base.select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
        col("nrm").as("cn")), Seq("neighbor_id"))
      .withColumn("brute",
        dec4S(dot_product(col("qe"), col("ce")) / (col("qn") * col("cn"))))
    assert(joined.count() > 0, "ivf_pq returned no rows at sf0.001")
    val bad = joined.filter(col("score") =!= col("brute"))
    assert(bad.count() == 0,
      s"re-ranked scores must equal brute cosine: ${bad.take(3).mkString(";")}")
    // And the ADC score is a genuine approximation, not the exact score
    // smuggled through: at least one shipped row differs.
    assert(joined.filter(col("adc") =!= col("score")).count() > 0,
      "ADC column unexpectedly identical to the exact score everywhere")
  }

  test("ivf_sq: exact scores equal brute cosine; SQ recall at/above PQ recall") {
    // Law 1 (ivf_pq's consistency rule): the exact re-rank scores the SQ
    // index ships must be bit-identical (dec4 render) to brute cosine.
    import graft.core.Tables.dec4S
    import graft.functions.GraftFunctions.dot_product
    val sq = graft.queries.LlmOps.all("ivf_sq")(spark, sfDir)
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val base = emb.select(col("vec_id"), dbl.as("e"))
      .withColumn("nrm", sqrt(dot_product(col("e"), col("e"))))
    val joined = sq
      .join(base.select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn")), Seq("query_id"))
      .join(base.select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
        col("nrm").as("cn")), Seq("neighbor_id"))
      .withColumn("brute",
        dec4S(dot_product(col("qe"), col("ce")) / (col("qn") * col("cn"))))
    assert(joined.count() > 0, "ivf_sq returned no rows")
    assert(joined.filter(col("score") =!= col("brute")).count() == 0,
      "re-ranked scores must equal brute cosine")
    // Law 2 — the reason SQ8 exists: per-dim 8-bit codes (64 B/vector)
    // must recall at least as much as the 8 B/vector PQ codebooks at
    // identical probe/shortlist budgets. Equality allowed (both can hit
    // the IVF-exact ceiling); an SQ dip below PQ means the grid math
    // regressed.
    def meanHits(q: String): Double = {
      val r = graft.queries.LlmOps.all(q)(spark, sfDir)
        .agg(avg(col("n_hit"))).collect()(0).getDouble(0)
      r
    }
    val sqR = meanHits("ivf_sq_eval")
    val pqR = meanHits("ivf_pq_eval")
    assert(sqR >= pqR, s"SQ recall $sqR fell below PQ recall $pqR")
    // And SQ's ADC is still a genuine approximation (not the exact score
    // smuggled through): some shipped row differs at dec4.
    assert(sq.filter(col("adc") =!= col("score")).count() > 0,
      "SQ ADC unexpectedly identical to the exact score everywhere")
  }

  test("quantizer train-on-sample parity: sample-trained recall@3 within band of full-train; encode is full-corpus") {
    // SIM-1e/1g's declared 100 TB lever, EXECUTED (r12 verdict task 1 —
    // the Faiss train-on-sample story): Lloyd cells + PQ codebook (resp.
    // the SQ8 grid) fit on embSampleTrain's bounded content-keyed ~50%
    // slice, the FULL corpus encoded against the fixed metadata, recall
    // measured under the identical probe/shortlist budgets. The law pins
    // (a) the sampled index still retrieves far above chance and (b) the
    // drift vs full-train bounded at the measured small-corpus level.
    // Measured truth this band encodes: sf0.001 PQ full 0.367 vs sampled
    // 0.600 (the SAMPLE-trained book WINS — at 150 vectors the full-train
    // sign-seeded book is itself noisy; the pair is honest evidence that
    // codebook quality at this scale is seed-dominated), SQ full 0.900 vs
    // sampled 0.767; sf0.01 PQ 0.667 vs 0.600, SQ 0.933 vs 0.900 — the
    // production-scale reading is a ≤0.07 recall cost for a training term
    // that stops scaling with the corpus.
    def meanRecall(q: String): Double =
      SparkEntry.queries(q)(spark, sfDir)
        .agg(avg(col("n_hit").cast("double") / 3.0)).collect()(0).getDouble(0)
    val pqFull = meanRecall("ivf_pq_eval")
    val pqSamp = meanRecall("ivf_pq_sample_eval")
    val sqFull = meanRecall("ivf_sq_eval")
    val sqSamp = meanRecall("ivf_sq_sample_eval")
    info(f"recall@3 PQ full=$pqFull%.3f sampled=$pqSamp%.3f | SQ full=$sqFull%.3f sampled=$sqSamp%.3f")
    assert(pqSamp >= 0.5, s"sample-trained PQ must retrieve (recall $pqSamp)")
    assert(sqSamp >= 0.5, s"sample-trained SQ must retrieve (recall $sqSamp)")
    assert(math.abs(pqFull - pqSamp) <= 0.30,
      s"PQ train-on-sample drift beyond the measured band: $pqFull vs $pqSamp")
    assert(math.abs(sqFull - sqSamp) <= 0.30,
      s"SQ train-on-sample drift beyond the measured band: $sqFull vs $sqSamp")
    // The sample predicate is content-keyed and ~half the corpus, and the
    // seeds ride along — the premise of "bounded training, full encode".
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    val ns = graft.queries.LlmOps.embSampleTrain(emb).count()
    assert(ns > n / 4 && ns < 3 * n / 4, s"sample size $ns of $n off ~50%")
    assert(graft.queries.LlmOps.embSampleTrain(emb)
      .filter(col("vec_id") < 10).count() == 10,
      "the 10 seed vectors must ride along with the sample")
  }

  test("quantizer FIXED-SIZE training cap: capped recall within band; training set exactly capped") {
    // SIM-CAP (r13 verdict task 1 — the knob the rate-keyed sample left
    // unexecuted): the training population is seeds ∪ the K smallest
    // (content-hash, vec_id) vectors, K = 256, so the training job stops
    // scaling with the corpus ENTIRELY while encode/search stay full
    // scans. The law pins (a) the cap-trained index still retrieves far
    // above chance, (b) drift vs full-train bounded at the sample law's
    // band, and (c) the training set is EXACTLY capped: |slice| ∈
    // [K, K + seeds] at every corpus size with corpus > K. Measured truth
    // at sf0.01: PQ cap 0.600 vs full 0.667 (= the rate sample's 0.600),
    // SQ cap 0.867 vs full 0.933 — a ≤0.07 recall cost for a CONSTANT
    // training term.
    def meanRecall(q: String): Double =
      SparkEntry.queries(q)(spark, sfDir)
        .agg(avg(col("n_hit").cast("double") / 3.0)).collect()(0).getDouble(0)
    val pqFull = meanRecall("ivf_pq_eval")
    val pqCap = meanRecall("ivf_pq_cap_eval")
    val sqFull = meanRecall("ivf_sq_eval")
    val sqCap = meanRecall("ivf_sq_cap_eval")
    info(f"recall@3 PQ full=$pqFull%.3f capped=$pqCap%.3f | SQ full=$sqFull%.3f capped=$sqCap%.3f")
    assert(pqCap >= 0.5, s"cap-trained PQ must retrieve (recall $pqCap)")
    assert(sqCap >= 0.5, s"cap-trained SQ must retrieve (recall $sqCap)")
    assert(math.abs(pqFull - pqCap) <= 0.30,
      s"PQ fixed-size-cap drift beyond the measured band: $pqFull vs $pqCap")
    assert(math.abs(sqFull - sqCap) <= 0.30,
      s"SQ fixed-size-cap drift beyond the measured band: $sqFull vs $sqCap")
    // The cap BINDS: |slice| is between K (all seeds under the threshold)
    // and K + 10 (no seed under it), independent of corpus size — the
    // fixed-training-job property the row exists for.
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
    val k = graft.queries.LlmOps.capTrainK
    assert(emb.count() > k, "corpus must exceed K for the cap law to bind")
    val slice = graft.queries.LlmOps.embCapTrain(emb)
    val nc = slice.count()
    assert(nc >= k && nc <= k + 10, s"capped slice size $nc outside [$k, ${k + 10}]")
    assert(slice.filter(col("vec_id") < 10).count() == 10,
      "the 10 seed vectors must ride along with the capped slice")
  }

  test("dsir_select: target slice scores highest; flag consistent; census exact") {
    val out = SparkEntry.queries("dsir_select")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getString(3)), r.getInt(4)))
    // Law 1 — the selection signal: the target (`en`) slice's mean
    // importance log-weight exceeds every other language's (DSIR's whole
    // point: target-like docs score high).
    val byLang = out.groupBy(_._2).map { case (l, rows) =>
      l -> rows.map(_._4).sum / rows.length }
    val en = byLang("en")
    byLang.filter(_._1 != "en").foreach { case (l, m) =>
      assert(en > m, s"en mean $en not above $l mean $m") }
    // Law 2 — flag definition: selected ⇔ weight > 0, row for row.
    out.foreach { case (id, _, _, w, sel) =>
      assert((w > 0) == (sel == 1), s"doc $id: weight $w selected $sel") }
    // Law 3 — feature census is exact: Σ n_feat over the output equals
    // the independently recomputed corpus gram count (unigrams + word
    // bigrams, occurrences not distinct).
    val doc = graft.core.Tables.load(spark, sfDir, "documents")
    val words = split(col("text"), " ")
    val expected = doc.select(
      (size(filter(words, w => w =!= "")) +
        greatest(size(words) - 1, lit(0))).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(out.map(_._3).sum == expected,
      s"n_feat sum ${out.map(_._3).sum} != recomputed gram count $expected")
    // Law 4 — rerun bit-stability (hash-free determinism check).
    val again = SparkEntry.queries("dsir_select")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getString(3)), r.getInt(4)))
    assert(out.toSeq == again.toSeq)
  }

  test("vec_jl: width rows match a full driver-side md5-projection replay") {
    // Independent oracle (fzj1's brute-replay rule): rebuild the ±1 sign
    // matrix from md5 in plain Scala, project the dec4-grid vectors,
    // recount top-3 hits against raw-cosine truth per width, and demand
    // the gated rows agree exactly.
    val out = SparkEntry.queries("vec_jl")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getString(2))).toMap
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
      .collect().map { r =>
        val xs = r.getSeq[Float](r.fieldIndex("embedding")).toArray
        r.getLong(r.fieldIndex("vec_id")) -> xs.map(_.toDouble)
      }.sortBy(_._1)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    val sgn = Array.tabulate(64, 32) { (d0, j0) =>
      if ("01234567".contains(md5hex(s"${j0 + 1}_${d0 + 1}")(0))) 1L else -1L }
    val xi = emb.map { case (id, xs) =>
      id -> xs.map(x => math.floor(x * 10000.0 + 0.5).toLong) }
    val proj = xi.map { case (id, v) =>
      id -> Array.tabulate(32)(j => (0 until 64).map(d => sgn(d)(j) * v(d)).sum) }
    def top3(vs: Array[(Long, Array[Double])]): Map[Long, Set[Long]] = {
      val withN = vs.map { case (id, v) =>
        (id, v, math.sqrt(v.map(x => x * x).sum)) }
      withN.filter(_._1 < 10).map { case (q, qv, qn) =>
        q -> withN.filter(_._1 != q).map { case (c, cv, cn) =>
          (qv.zip(cv).map { case (a, b) => a * b }.sum / (qn * cn), c)
        }.sortBy { case (s, c) => (-s, c) }.take(3).map(_._2).toSet
      }.toMap
    }
    val truth = top3(emb)
    Seq(8, 16, 32).foreach { w =>
      val approx = top3(proj.map { case (id, p) =>
        id -> p.take(w).map(_.toDouble) })
      val hits = truth.keys.toSeq.map(q => (truth(q) & approx(q)).size).sum
      assert(out(w)._1 == hits.toLong,
        s"w=$w gated n_hits ${out(w)._1} != replay $hits")
    }
  }

  test("vec_pca: Rayleigh certificate monotone, iterate unit-norm, evr bounded") {
    val rows = SparkEntry.queries("vec_pca")(spark, sfDir)
      .collect().map(r => (r.getInt(0), BigDecimal(r.getString(1)),
        BigDecimal(r.getString(2)), r.getString(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    // Power-iteration law: the Rayleigh quotient is non-decreasing across
    // rounds (the shipped convergence certificate; dec4 rendering can eat
    // at most 1e-4 per term).
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 - BigDecimal("0.0002"),
        s"lambda decreased: round ${a._1} ${a._2} -> round ${b._1} ${b._2}")
    }
    rows.foreach { case (r, _, evr, comp) =>
      // Explained variance is a fraction of total variance.
      assert(evr >= 0 && evr <= 1, s"round $r evr $evr out of [0,1]")
      // The shipped iterate is unit-norm (up to dec4 per-element error).
      val t = comp.split(",").map(_.toDouble)
      assert(t.length == 64, s"round $r component has ${t.length} dims")
      val nrm = math.sqrt(t.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 0.01, s"round $r iterate norm $nrm")
    }
  }

  test("quality_lr: beats majority AND the generative rule on one feature space") {
    val lr = SparkEntry.queries("quality_lr")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        BigDecimal(r.getString(2)), r.getInt(3)))
    // Flag definition: pred ⇔ score > 0, row for row.
    lr.foreach { case (id, _, sc, pr) =>
      assert((sc > 0) == (pr == 1), s"doc $id score $sc pred $pr") }
    val n = lr.length.toDouble
    def acc(pred: ((Long, String, BigDecimal, Int)) => Boolean): Double =
      lr.count(r => pred(r) == (r._2 == "en")) / n
    val lrAcc = acc(_._4 == 1)
    val majority = math.max(lr.count(_._2 == "en") / n,
      1.0 - lr.count(_._2 == "en") / n)
    assert(lrAcc > majority + 0.1,
      s"classifier $lrAcc not clearly above majority $majority")
    // The point of paying for training: the discriminative boundary beats
    // the generative likelihood-ratio sign rule on the SAME hashed-ngram
    // features (dsir_select's selected flag read as a classifier).
    val dsir = SparkEntry.queries("dsir_select")(spark, sfDir)
      .collect().map(r => (r.getString(1), r.getInt(4)))
    val dsirAcc = dsir.count { case (l, sel) => (sel == 1) == (l == "en") } /
      dsir.length.toDouble
    assert(lrAcc > dsirAcc,
      s"trained classifier $lrAcc did not beat DSIR sign rule $dsirAcc")
  }

  test("ddp_cdc: chunks partition every doc; shared runs align across offsets") {
    // Partition law on the real corpus: every doc's chunks cover exactly
    // its bytes (chunked_chars == len(text)) — the invariant that makes
    // the census a true storage-dedup account.
    val out = SparkEntry.queries("ddp_cdc")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(5))).toMap
    val lens = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == lens.filter(_._2 > 0).keySet)
    out.foreach { case (id, (cc, _)) =>
      assert(cc == lens(id), s"doc $id chunked $cc != len ${lens(id)}") }
    // Shift-resistance (the property CDC exists for): a ~200-char run
    // shared by two docs at DIFFERENT offsets still yields shared chunks;
    // an alphabet-disjoint control shares none. Fixed-size blocks would
    // find nothing here — the boundaries come from content, so they
    // re-synchronize inside the shared run regardless of prefix length.
    import spark.implicits._
    val shared = (0 until 50).map(i => f"s$i%02d").mkString(" ")
    val a = "AAAA BBBB CCCC " + shared + " tail one"
    val b = ("Z" * 37) + shared + " other end"
    val c = (0 until 50).map(i => f"Q$i%02d").mkString("-")
    val dir = java.nio.file.Files.createTempDirectory("cdc_shift").toString
    Seq((1L, a, "en", "t", a.length.toLong), (2L, b, "en", "t", b.length.toLong),
        (3L, c, "en", "t", c.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val crafted = SparkEntry.queries("ddp_cdc")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(crafted(1L) >= 100, s"doc A shared only ${crafted(1L)} chars")
    assert(crafted(2L) >= 100, s"doc B shared only ${crafted(2L)} chars")
    assert(crafted(3L) == 0, s"control doc shared ${crafted(3L)} chars")
  }

  test("lr_eval: trained classifier dominates the generative rule threshold-free") {
    val rows = SparkEntry.queries("lr_eval")(spark, sfDir)
      .collect().map(r => r.getString(0) -> BigDecimal(r.getString(3))).toMap
    assert(rows.keySet == Set("dsir", "lr"))
    // Both rules genuinely discriminate (AUC > chance), and the trained
    // boundary integrates better over ALL thresholds, not just at zero —
    // the claim quality_lr's accuracy comparison fixes one threshold for.
    assert(rows("dsir") > BigDecimal("0.5"), s"dsir auc ${rows("dsir")}")
    assert(rows("lr") > rows("dsir"),
      s"lr auc ${rows("lr")} must beat dsir auc ${rows("dsir")}")
  }

  test("lr_calibration: full bin spine, census partitions the corpus, ECE consistent") {
    val rows = SparkEntry.queries("lr_calibration")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)), Option(r.getString(4)), r.getString(5)))
    assert(rows.map(_._1).sorted.toSeq == (0 to 9), "bin spine incomplete")
    // Domain = gram-bearing docs (dsir_select's declared domain: a doc
    // with no unigrams after the empty-token filter has no feature rows
    // and no batch score; the STREAMED path's serving spine covers it).
    val nDocs = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(size(filter(split(col("text"), " "), w => w =!= "")) > 0)
      .count()
    assert(rows.map(_._2).sum == nDocs,
      "bin census must partition the gram-bearing corpus")
    rows.foreach { case (b, n, np, conf, acc, _) =>
      assert(np <= n, s"bin $b n_pos $np > n $n")
      if (n == 0) assert(conf.isEmpty && acc.isEmpty, s"empty bin $b has rates")
    }
    // ECE internal consistency: recompute Σ (n/N)·dec4|acc − conf| from
    // the shipped rows and match the attached scalar at dec4.
    def d4(x: Double): BigDecimal =
      BigDecimal(math.floor(x * 10000.0 + 0.5) / 10000.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val we = rows.collect { case (_, n, _, Some(c), Some(a), _) if n > 0 =>
      d4(math.abs(a.toDouble - c.toDouble)) * n }.sum
    val ece = d4((we / nDocs).toDouble)
    rows.foreach { case (b, _, _, _, _, e) =>
      assert(BigDecimal(e) == ece, s"bin $b ece $e != recomputed $ece") }
  }

  test("lr_temp: temperature scaling reduces held-slice ECE; blocks consistent") {
    val rows = SparkEntry.queries("lr_temp")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), Option(r.getString(4)), Option(r.getString(5)),
        r.getString(6), r.getString(7)))
    assert(rows.length == 20, s"expected 2 variants x 10 bins, got ${rows.length}")
    val byVar = rows.groupBy(_._1)
    assert(byVar.keySet == Set("raw", "scaled"), s"variants ${byVar.keySet}")
    byVar.foreach { case (v, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (0 to 9), s"$v bin spine incomplete") }
    // Both blocks bin the same held-slice population (gram-bearing docs
    // with doc_id % 5 == 3 — the T-fit slice).
    val heldN = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(size(filter(split(col("text"), " "), w => w =!= "")) > 0)
      .filter(pmod(col("doc_id"), lit(5)) === 3)
      .count()
    byVar.foreach { case (v, rs) =>
      assert(rs.map(_._3).sum == heldN, s"$v census must partition the held slice") }
    // One ECE per variant, one published T overall.
    val ece = byVar.map { case (v, rs) => v -> rs.map(_._7).distinct }
    ece.foreach { case (v, es) =>
      assert(es.length == 1, s"$v carries ${es.length} distinct ECEs") }
    val temps = rows.map(_._8).distinct
    assert(temps.length == 1 && BigDecimal(temps.head) > 0,
      s"published temperature must be one positive scalar, got $temps")
    // THE law (r11 verdict task 3): NLL-fit temperature must improve the
    // held-slice calibration the raw few-round-GD probabilities lack.
    val eRaw = BigDecimal(ece("raw").head)
    val eScaled = BigDecimal(ece("scaled").head)
    assert(eScaled < eRaw,
      s"temperature scaling must reduce ECE: raw $eRaw scaled $eScaled")
  }

  test("quality_lr train-on-sample parity: a 50% content-hash model applied fleet-wide holds full-model AUC") {
    // CLS-1's 100 TB story, EXECUTED (r11 verdict task 6): at scale the
    // classifier trains on a SAMPLE and applies in one scan-proportional
    // pass — the law that makes that honest is that a model trained on a
    // content-hash 50% slice, applied to the WHOLE corpus through the
    // serving spine (docs whose buckets the sampled model never saw
    // still score), ranks within a pinned band of the full-corpus model.
    // Content-hash sampling (not doc_id) co-locates exact duplicates on
    // one side of the cut — SMP-1's split discipline.
    import graft.queries.LlmOps
    import graft.functions.GraftFunctions.poly_hash
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    val half = docs.filter(poly_hash(col("text")) % 2 === 0)
    val fullModel = LlmOps.lrTrain(spark, sfDir)
    val halfModel = LlmOps.lrTrainFrom(spark, LlmOps.hashedGramBuckets(half))
    def fleetAuc(m: LlmOps.LrModel): Double = {
      val spine = docs.select(col("doc_id"), col("lang"),
        (col("lang") === "en").cast("double").as("y"))
      val sy = LlmOps.lrScore(LlmOps.lrFeatures(docs), m, Some(spine))
        .select(col("z"), col("y")).collect()
        .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
      val sorted = sy.sortBy(_._1)
      val n = sorted.size
      val ranks = new Array[Double](n)
      var i = 0
      while (i < n) {
        var j = i
        while (j + 1 < n && sorted(j + 1)._1 == sorted(i)._1) j += 1
        val avg = (i + j + 2) / 2.0
        (i to j).foreach(k => ranks(k) = avg)
        i = j + 1
      }
      val nPos = sorted.count(_._2 == 1.0)
      val nNeg = n - nPos
      val rPos = sorted.indices.collect {
        case k if sorted(k)._2 == 1.0 => ranks(k) }.sum
      (rPos - nPos * (nPos + 1) / 2.0) / (nPos.toDouble * nNeg)
    }
    val aFull = fleetAuc(fullModel)
    val aHalf = fleetAuc(halfModel)
    info(f"fleet AUC full=$aFull%.4f half-sample=$aHalf%.4f")
    // Measured truth this band encodes (sf0.001: full 0.9017, sampled
    // 0.7167; numpy-reproduced, not measurement noise): on THIS corpus —
    // 500 distinct template-synthetic docs sharing one ~31-word
    // vocabulary across languages — the classifier's edge is largely
    // in-template coverage (both models read near-chance on templates
    // they never saw), so halving the 240-gram-doc training set costs
    // real AUC. The production premise the SURVEY row states — sampling
    // is safe because a 100 TB corpus's templates recur at every rate —
    // is exactly what a 500-distinct-doc corpus lacks; the law pins the
    // sampled model still discriminating well above the 0.5 baseline and
    // the drift bounded at the measured small-corpus level, and the
    // SURVEY row carries the honest numbers.
    assert(aHalf > 0.65, s"sampled model must discriminate (AUC $aHalf)")
    assert(math.abs(aFull - aHalf) < 0.25,
      s"train-on-sample drift beyond the measured band: full $aFull vs sampled $aHalf")
  }

  test("smp1: splits partition the corpus and reruns are bit-stable") {
    val doc = graft.core.Tables.load(spark, sfDir, "documents")
    val total = doc.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def run() = SparkEntry.queries("smp1")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    val a = run()
    // partition: per-lang split counts sum to the lang total
    val perLang = a.groupBy(_._2).map { case (l, rows) => l -> rows.map(_._3).sum }
    assert(perLang == total, s"split counts $perLang != totals $total")
    // determinism: a second evaluation is identical, row for row
    assert(a.toSeq == run().toSeq)
  }

  test("smp2: exactly k rows per stratum, rerun-stable") {
    def run() = SparkEntry.queries("smp2")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val a = run()
    a.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.length == 10, s"$lang has ${rows.length} sample rows")
      assert(rows.map(_._2).sorted.toSeq == (1 to 10), s"$lang ranks not 1..10")
    }
    assert(a.toSeq == run().toSeq)
  }

  test("smp_universe: join of samples EQUALS sample of join — exactly, not in expectation") {
    // SMP-6's defining law (what separates universe sampling from
    // independent Bernoulli): keeping the same hash-slice of the join-key
    // universe on both tables commutes with the join as a SET identity.
    // A Bernoulli twin would only satisfy it in expectation (p² pair
    // survival) — this assertion is exact row equality.
    val o = graft.core.Tables.load(spark, sfDir, "orders")
    val l = graft.core.Tables.load(spark, sfDir, "lineitem")
    def keep(k: org.apache.spark.sql.Column) =
      substring(md5(k.cast("string")), 1, 2) < lit("1a")
    val joinCols = Seq(col("o_orderkey"), col("l_linenumber"),
      col("o_orderpriority"), col("l_extendedprice"))
    val joinOfSamples = o.filter(keep(col("o_orderkey")))
      .join(l.filter(keep(col("l_orderkey"))),
        col("o_orderkey") === col("l_orderkey"))
      .select(joinCols: _*)
    val sampleOfJoin = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .filter(keep(col("o_orderkey")))
      .select(joinCols: _*)
    TestSpark.assertSameRows(joinOfSamples, sampleOfJoin,
      "universe sampling must commute with the join")
    // Non-degenerate: the slice keeps a real fraction, not all or nothing.
    val kept = joinOfSamples.count()
    val total = o.join(l, col("o_orderkey") === col("l_orderkey")).count()
    assert(kept > 0 && kept < total,
      s"sample should be a proper slice: $kept of $total")
  }

  test("ddp_winnow: the winnowing guarantee — any shared >= w+k-1 word run shares a fingerprint") {
    // MOSS's theorem (k=3, w=4 here): a common substring of >= w+k-1 = 6
    // words spans a full window of shared 3-gram hashes, whose minimum is
    // selected in BOTH docs. Drive the exact query pipeline over crafted
    // doc pairs (shared 6-word run embedded in different surroundings, at
    // different positions) and assert the posting join finds every pair —
    // plus a no-overlap control pair that must share nothing.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three $shared four five six seven", "en"),
      (2L, s"$shared nine ten eleven twelve thirteen fourteen", "en"),
      (3L, s"completely different words with no common run at all here", "en"),
      (4L, s"pad pad2 pad3 pad4 pad5 pad6 pad7 $shared", "en"))
      .toDF("doc_id", "text", "lang")
    val W = 4
    val t = docs.select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .withColumn("nw", size(col("ws"))).filter(col("nw") >= 3)
      .withColumn("ng", col("nw") - 2)
    val g = t.select(col("doc_id"), col("lang"), col("ng"),
      posexplode(transform(sequence(lit(1), col("ng")),
        i => md5(concat_ws(" ", element_at(col("ws"), i),
          element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "h")
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(-(W - 1), 0)
    val fps = g.withColumn("wmin", min(col("h")).over(wd))
      .filter(col("p") >= W - 1 || col("p") === col("ng") - 1)
      .select(col("doc_id"), col("wmin")).distinct()
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    // Every pair among {1, 2, 4} shares the 6-word run => shares >= 1 fp.
    for (a <- Seq(1L, 2L, 4L); b <- Seq(1L, 2L, 4L) if a < b)
      assert(fps(a).intersect(fps(b)).nonEmpty,
        s"docs $a/$b share a 6-word run but no fingerprint — guarantee broken")
    // The control shares nothing with any of them.
    Seq(1L, 2L, 4L).foreach { a =>
      assert(fps(3L).intersect(fps(a)).isEmpty,
        s"control doc shares a fingerprint with $a — false positive")
    }
    // Density sanity on the real corpus: winnowing sparsifies — the
    // fingerprint postings stay well under the full gram stream (expected
    // density 2/(w+1) = 0.4) — and the gated query finds pairs.
    val corpus = graft.core.Tables.load(spark, sfDir, "documents")
    val nGrams = corpus
      .select(greatest(size(split(col("text"), " ")) - 2, lit(0)).as("ng"))
      .agg(sum(col("ng"))).head().getLong(0)
    val tC = corpus.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("nw", size(col("ws"))).filter(col("nw") >= 3)
      .withColumn("ng", col("nw") - 2)
    val gC = tC.select(col("doc_id"), col("ng"),
      posexplode(transform(sequence(lit(1), col("ng")),
        i => md5(concat_ws(" ", element_at(col("ws"), i),
          element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "h")
    val nFps = gC.withColumn("wmin", min(col("h")).over(wd))
      .filter(col("p") >= W - 1 || col("p") === col("ng") - 1)
      .select(col("doc_id"), col("wmin")).distinct().count()
    assert(nFps < nGrams / 2,
      s"winnowing must sparsify: $nFps fingerprints vs $nGrams grams")
    assert(SparkEntry.queries("ddp_winnow")(spark, sfDir).collect().nonEmpty,
      "gated ddp_winnow must produce pairs on the corpus")
  }

  test("pipeline_corpus: census equals a stage replay grounded in the certified pieces") {
    val out = SparkEntry.queries("pipeline_corpus")(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def norm(t: String) =
      t.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
    val reps = docs.groupBy(d => norm(d._3)).map { case (_, g) => g.map(_._1).min }.toSet
    // A survivor's benchmark containment is independent of the other
    // corpus docs, so pipeline-flagged == dcn1-flagged restricted to
    // survivors — the certified decon surface IS the replay for stage 3.
    val dcnFlagged = SparkEntry.queries("dcn1")(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    def splitOf(rep: Long) = {
      val b = ((rep % 2147483647L) * 2654435761L + 123456789L) % 1000L
      if (b < 800) "train" else if (b < 900) "val" else "test"
    }
    val expected = docs
      .filter(d => reps(d._1) && d._1 % 100 != 0 && !dcnFlagged(d._1) &&
        d._3.split(" ").length >= 20)
      .groupBy(d => (splitOf(d._1), d._2))
      .map { case (k, g) =>
        k -> ((g.length.toLong, g.map(_._3.split(" ").length.toLong).sum)) }
    assert(out == expected, s"census mismatch:\n got $out\n exp $expected")
  }

  test("ann_ndcg: totality over queries, metric identities, consistency with sim1/sim1_lsh") {
    val out = SparkEntry.queries("ann_ndcg")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getString(3)), BigDecimal(r.getString(4)), BigDecimal(r.getString(5))))
    assert(out.map(_._1).toSet == (0L to 9L).toSet, "one row per query, always")
    // The eval must grade exactly the surfaces the gated ANN queries ship:
    // truth = sim1's brute top-3, approx = sim1_lsh's bucket-pruned top-3.
    val truth = SparkEntry.queries("sim1")(spark, sfDir).collect()
      .filter(_.getInt(1) <= 3).map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = SparkEntry.queries("sim1_lsh")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    def d4(x: Double) = BigDecimal(math.floor(x * 10000 + 0.5) / 10000)
    val disc = Map(1 -> 1.0, 2 -> 0.6309297535714574, 3 -> 0.5)
    out.foreach { case (q, nr, nh, rec, mrr, ndcg) =>
      val aq = approx.filter(_._1 == q)
      val hq = aq.filter(a => truth.contains((a._1, a._3)))
      assert(nr == aq.length, s"q$q returned $nr vs sim1_lsh ${aq.length}")
      assert(nh == hq.length, s"q$q hits $nh vs recount ${hq.length}")
      assert(rec == d4(nh / 3.0), s"q$q recall")
      assert(mrr == hq.map(_._2).sorted.headOption
        .map(r => d4(1.0 / r)).getOrElse(BigDecimal(0)), s"q$q mrr")
      val dcg = hq.map(h => d4(disc(h._2))).sum
      assert(ndcg == d4((dcg / BigDecimal("2.1309")).toDouble), s"q$q ndcg")
      assert(rec <= 1 && ndcg <= 1, s"q$q metric bounds")
      assert((mrr > 0) == (nh > 0) && (ndcg > 0) == (nh > 0), s"q$q zero laws")
    }
  }

  test("vec_mrl: one row per width, metric bounds, and the full-width self-check row") {
    val out = SparkEntry.queries("vec_mrl")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        BigDecimal(r.getString(2)), BigDecimal(r.getString(3))))
    assert(out.map(_._1).sorted.toSeq == Seq(8, 16, 32, 64))
    out.foreach { case (w, nh, rec, mrr) =>
      assert(nh >= 0 && nh <= 30, s"w=$w hits $nh")
      assert(rec >= 0 && rec <= 1 && mrr >= 0 && mrr <= 1, s"w=$w bounds")
      assert((rec > 0) == (nh > 0), s"w=$w recall/hits consistency")
    }
    // The truth width must grade itself perfectly — the self-check row
    // that holds for ANY corpus (ivf_curve's nprobe=max pattern).
    val Seq(full) = out.filter(_._1 == 64).toSeq
    assert(full._2 == 30 && full._3 == 1 && full._4 == 1,
      s"w=64 must be the recall=1 self-check: $full")
  }

  test("ddp_semantic: routing totality, flag consistency, representative law, shared assignment") {
    val out = SparkEntry.queries("ddp_semantic")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getLong(3)))
    val nVecs = graft.core.Tables.load(spark, sfDir, "embeddings").count()
    assert(out.length == nVecs, s"${out.length} routing rows for $nVecs vectors")
    // is_dup is exactly "some lower cluster-mate at cos >= tau".
    out.foreach { case (v, _, dup, nl) =>
      assert(dup == (nl > 0), s"vec $v: is_dup=$dup but n_lower_nbrs=$nl")
    }
    // Keep-lowest-id: each cluster's smallest member has no lower mate, so
    // it can never be a duplicate — every cluster keeps >= 1 representative.
    out.groupBy(_._2).foreach { case (cid, ms) =>
      val rep = ms.minBy(_._1)
      assert(!rep._3, s"cluster $cid: lowest member ${rep._1} flagged dup")
    }
    // Drift guard: the assignment must be kmeans_step's (same seeds, same
    // exact-argmin, same tie rule) — cluster populations must agree.
    val km = SparkEntry.queries("kmeans_step")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val mine = out.groupBy(_._2).map { case (c, ms) => c -> ms.length.toLong }
    assert(mine == km, s"cluster sizes diverged from kmeans_step: $mine vs $km")
  }

  test("lm_buckets: consistency with lm_score, bucket interval order, kept law") {
    val out = SparkEntry.queries("lm_buckets")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3),
        r.getString(4), r.getBoolean(5)))
    // Totality + score consistency: same docs, same dec4 surprisal as LM-1.
    val lm = SparkEntry.queries("lm_score")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out.length == lm.size, s"${out.length} bucket rows vs ${lm.size} scored docs")
    out.foreach { case (d, _, surp, _, _) =>
      assert(lm(d) == surp, s"doc $d: bucket surprisal $surp != lm_score ${lm(d)}")
    }
    out.foreach { case (d, _, _, b, kept) =>
      assert(kept == (b != "tail"), s"doc $d: kept=$kept bucket=$b")
    }
    // Buckets are INTERVALS of the dec4 score within each language (the
    // cut compare is dec4-both-sides, so equal scores share a bucket and
    // head < middle < tail strictly in score space).
    out.groupBy(_._2).foreach { case (lang, ds) =>
      val by = ds.groupBy(_._4).view.mapValues(_.map(x => BigDecimal(x._3))).toMap
      for ((lo, hi) <- Seq("head" -> "middle", "middle" -> "tail"))
        if (by.contains(lo) && by.contains(hi))
          assert(by(lo).max < by(hi).min,
            s"$lang: max($lo)=${by(lo).max} !< min($hi)=${by(hi).min}")
      // Tertile balance up to dec4 ties: no bucket more than 2 off a third.
      val n = ds.length
      by.values.foreach(b => assert(math.abs(b.size - n / 3.0) <= 2.0,
        s"$lang buckets ${by.view.mapValues(_.size).toMap} vs n=$n"))
    }
  }
}
