package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Model-evaluation operators (SURVEY §2.2 EVAL family) — the metrics a
  * training-data pipeline runs AGAINST ITS OWN FILTERS: every heuristic
  * classifier in the corpus path (language ID, quality gates, dedup
  * verdicts) needs its discrimination (AUC), its calibration (reliability
  * bins + ECE), and its operating point (confusion matrix / P-R-F1)
  * measured at corpus scale before its threshold ships to a 100 TB run.
  *
  * The evaluated model is deliberately one the engine already gates:
  * TXT-3's English stopword-ratio score (`txt_langid`) against the gold
  * `lang` label — so the eval family audits a REAL in-repo classifier,
  * not a synthetic score column.
  *
  * Exactness discipline (SURVEY §5.3): ranks/counts are exact integers
  * (tie-average ranks via the doubled-rank trick shared with STAT-6),
  * every ratio is one correctly-rounded double division, per-bin float
  * terms are dec4-quantized before any order-free decimal sum.
  */
object Eval extends QueryModule {

  /** 8-decimal sibling of Tables.dec4, for per-block float terms that get
    * SUMMED over data-sized block counts (avg_precision's trapezoid): at
    * dec4 the ~1/|blocks| terms would quantize to zero; at dec8 the
    * worst-case accumulation error over 10⁴ blocks is 1e-4 while both
    * engines still floor the identical IEEE double. DuckDB twin:
    * `CAST(floor((x)*100000000+0.5)/100000000 AS DECIMAL(38,8))`
    * (vec_pq's DECIMAL(38,8) rendering precedent). */
  // Hoisted to graft.core.Tables (r11 review): one copy of the
  // determinism-critical rounding primitive, shared with LlmOps.

  /** TXT-3's stopword-ratio score + binary gold label, the shared eval
    * input: score = |{w : w ∈ {a, the}}| / |words| (one correctly-rounded
    * double division of exact ints), label = (lang = 'en'). */
  private def scored(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    load(s, d, "documents").select(
      (size(filter(words, w => w.isin("a", "the"))).cast("double") /
        size(words).cast("double")).as("score"),
      when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
  }

  /** The tie-averaged rank-sum AUC over (score DOUBLE, pos LONG ∈ {0,1})
    * rows, shared by `auc_roc` and `lr_eval`: the one-row aggregate
    * holding `n_pos` and `n_neg`, plus the exact int64 2U and the AUC
    * (NULL for single-class input) as columns over it. Rows collapse to
    * one per distinct score; GlobalRank's two-pass prefix ranks those. */
  private[graft] def rankSumAuc(scored: DataFrame): (DataFrame, Column, Column) = {
    val perS = scored.groupBy(col("score")).agg(
      count(lit(1)).as("ct"), sum(col("pos")).as("cpos"))
    val withP = graft.operators.GlobalRank.attach(perS,
      Seq(col("score").asc), None, Seq("ct" -> "cbefore"))
    val one = withP.agg(
      sum(col("cpos")).as("n_pos"),
      sum(col("ct") - col("cpos")).as("n_neg"),
      sum(col("cpos") * (lit(2L) * col("cbefore") + col("ct") + lit(1L)))
        .as("r2pos"))
    val u2 = col("r2pos") - col("n_pos") * (col("n_pos") + 1L) // = 2U, exact
    val den = lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")
    (one, u2, u2.cast("double") / when(den === 0.0, lit(null)).otherwise(den))
  }

  val all: Map[String, Q] = Map(
    // ---- EVAL-1: exact ROC AUC (`auc_roc`) — threshold-free
    //      discrimination of the stopword score for English: AUC =
    //      P(score_pos > score_neg) + ½P(tie), computed by the rank-sum
    //      identity AUC = (ΣR₊ − n₊(n₊+1)/2) / (n₊n₋) with tie-AVERAGE
    //      ranks. Exact-integer discipline: doubled ranks keep ties
    //      integral (2·avg_rank = 2·prefix + ct + 1 per distinct-score
    //      group — STAT-6's identity), so 2U = ΣC₊·(2p+ct+1) − n₊(n₊+1)
    //      is exact int64 and AUC is ONE double division. Degenerate
    //      single-class input → NULL by guard. Scale: the scan collapses
    //      to one row per DISTINCT score (map-side combined); the rank
    //      over that runs as GlobalRank's two-pass distributed prefix
    //      (no single-task sort at any width — gini/mann_whitney/
    //      drift_ks's machinery, fourth consumer); rollup is 1 row. ----
    "auc_roc" -> ((s, d) => {
      val (one, u2, auc) = rankSumAuc(scored(s, d))
      ordered(one.select(col("n_pos"), col("n_neg"),
        dec4S(u2.cast("double") / lit(2.0)).as("u_stat"),
        dec4S(auc).as("auc"),
        dec4S(lit(2.0) * auc - lit(1.0)).as("gini_rank")))
    }),

    // ---- EVAL-2: calibration reliability bins + ECE
    //      (`calibration_bins`) — does a score of 0.7 mean 70%? The
    //      10-bin reliability diagram (bin = ⌊10·score⌋ clamped to 9,
    //      pure IEEE double arithmetic so both engines bin identically)
    //      with per-bin n / positives / mean confidence / observed
    //      accuracy, plus the Expected Calibration Error
    //      ECE = Σ_b (n_b/N)·|acc_b − conf_b| attached to every row.
    //      Float discipline: conf_b finishes from a dec4-per-row decimal
    //      score sum (order-free), each bin's |acc−conf| is dec4-
    //      quantized BEFORE the ×n_b decimal product and the cross-bin
    //      decimal sum — no order-sensitive double accumulation
    //      anywhere. The full 10-bin spine is surfaced (empty bins show
    //      n=0 — DQ-3's absent-digit convention). Scale: ONE map-side-
    //      combined 10-group aggregate over the scan; everything after
    //      lives on ≤10 rows. ----
    "calibration_bins" -> ((s, d) =>
      ordered(LlmOps.reliabilityTable(s, scored(s, d)))),

    // ---- EVAL-6: Brier score + Murphy decomposition (`brier_decomp`) —
    //      calibration_bins' scalar summary with the standard additive
    //      anatomy: BRIER = REL − RES + UNC + WBV over the same 10-bin
    //      design, where REL (reliability) penalizes conf≠acc per bin,
    //      RES (resolution) rewards bins whose accuracy departs from the
    //      base rate, UNC = base·(1−base) is the irreducible label
    //      entropy, and the two WITHIN-BIN terms carry what raw-score
    //      Brier holds beyond the binned forecast: WBV = within-bin
    //      forecast variance, WCOV = within-bin forecast-label covariance
    //      (zero when each bin's forecast is constant — the textbook
    //      3-term identity's hidden assumption; here forecasts vary
    //      within bins, so the exact identity is the 5-term one, with
    //      −2·WCOV). Both from per-bin MOMENTS (Σs² − n·conf²,
    //      Σs·y − conf·Σy) — no second pass over the data. Float
    //      discipline: per-row squares are
    //      dec8-quantized before order-free decimal sums (avg_precision's
    //      dec8 rationale), per-bin component terms dec8-quantized before
    //      the ≤10-row decimal sum, every ratio one double division; the
    //      additive identity is recounted driver-side in EvalSpec at dec4.
    //      Scale: ONE map-side-combined 10-group moment aggregate over
    //      the scan; everything after lives on ≤10 rows. ----
    "brier_decomp" -> ((s, d) => {
      val binned = scored(s, d).withColumn("bin",
        least(floor(col("score") * lit(10.0)).cast("int"), lit(9)))
      val sd = col("score") - col("pos").cast("double")
      val agg = binned.groupBy(col("bin")).agg(
        count(lit(1)).as("n"), sum(col("pos")).as("npos"),
        sum(dec4(col("score"))).cast(dt).as("ssc"),
        sum(dec8(col("score") * col("score"))).cast(dt8).as("ssq"),
        sum(dec8(col("score") * col("pos").cast("double"))).cast(dt8).as("ssp"),
        sum(dec8(sd * sd)).cast(dt8).as("sbr"))
      val tot = agg.agg(sum(col("n")).as("nn"), sum(col("npos")).as("tpos"),
        sum(col("sbr")).cast(dt8).as("sbrt"))
      val conf = col("ssc").cast("double") / col("n").cast("double")
      val acc = col("npos").cast("double") / col("n").cast("double")
      val base = col("tpos").cast("double") / col("nn").cast("double")
      val comps = agg.crossJoin(broadcast(tot)).agg(
        max(col("nn")).as("nn"), max(col("tpos")).as("tpos"),
        max(col("sbrt")).cast(dt8).as("sbrt"),
        sum(dec8(col("n").cast("double") * (conf - acc) * (conf - acc)))
          .cast(dt8).as("relt"),
        sum(dec8(col("n").cast("double") * (acc - base) * (acc - base)))
          .cast(dt8).as("rest"),
        sum(dec8(col("ssq").cast("double") -
          col("n").cast("double") * conf * conf)).cast(dt8).as("wbvt"),
        sum(dec8(col("ssp").cast("double") -
          conf * col("npos").cast("double"))).cast(dt8).as("wcovt"))
      val nd = col("nn").cast("double")
      val b = col("tpos").cast("double") / nd
      ordered(comps.select(col("nn").as("n"),
        dec4S(col("sbrt").cast("double") / nd).as("brier"),
        dec4S(col("relt").cast("double") / nd).as("reliability"),
        dec4S(col("rest").cast("double") / nd).as("resolution"),
        dec4S(b * (lit(1.0) - b)).as("uncertainty"),
        dec4S(col("wbvt").cast("double") / nd).as("wbv"),
        dec4S(col("wcovt").cast("double") / nd).as("wcov")))
    }),

    // ---- EVAL-3: confusion-matrix operating point (`cls_eval`) — the
    //      threshold-ed readout of the same classifier (TXT-3's shipped
    //      rule: predict English iff score > 0.05): TP/FP/FN/TN in ONE
    //      map-side-combined aggregate, then accuracy, precision,
    //      recall, F1 and Matthews correlation. Exact-integer
    //      discipline: accuracy/precision/recall are single divisions of
    //      exact counts; F1 via the harmonic identity 2TP/(2TP+FP+FN)
    //      (ONE exact-int ratio — never the P·R double composition);
    //      MCC's count products computed in DOUBLE (int64 products
    //      overflow at 10¹²-row corpora; doubles are correctly rounded
    //      and spelled identically both sides), zero-denominator → NULL.
    //      Scale: one scan to a 4-number vector — the cheapest possible
    //      full-corpus model audit, composes incrementally per batch. ----
    "cls_eval" -> ((s, d) => {
      val p = scored(s, d)
        .select(col("pos"), when(col("score") > 0.05, 1L).otherwise(0L).as("pred"))
      val one = p.agg(
        sum(when(col("pred") === 1L && col("pos") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1L && col("pos") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0L && col("pos") === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0L && col("pos") === 0L, 1L).otherwise(0L)).as("tn"))
      def dz(num: Column, den: Column): Column =
        num / when(den === 0.0, lit(null)).otherwise(den)
      val Seq(tp, fp, fn, tn) = Seq("tp", "fp", "fn", "tn").map(c => col(c).cast("double"))
      val mccDen = sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
      ordered(one.select(col("tp"), col("fp"), col("fn"), col("tn"),
        dec4S(dz(tp + tn, tp + fp + fn + tn)).as("accuracy"),
        dec4S(dz(tp, tp + fp)).as("precision"),
        dec4S(dz(tp, tp + fn)).as("recall"),
        dec4S(dz(lit(2.0) * tp, lit(2.0) * tp + fp + fn)).as("f1"),
        dec4S(dz(tp * tn - fp * fn, mccDen)).as("mcc")))
    }),

    // ---- EVAL-4: PR trapezoid + best operating point (`avg_precision`)
    //      — the precision-recall companion to EVAL-1 (ROC flatters a
    //      classifier on imbalanced corpora; PR does not): AP = area
    //      under the PR curve by the lower trapezoid over DISTINCT-SCORE
    //      blocks in descending-score order, Σ_k ΔR_k·(P_k + P_{k−1})/2
    //      with P_0 = 1 (the standard empty-prefix convention), plus the
    //      best reachable F1 over all thresholds and the score achieving
    //      it (argmax ties → smallest score: drift_ks's rule — the
    //      doubles are engine-identical, so the tie set is too). Float
    //      discipline: every prefix count is an exact int64 (GlobalRank),
    //      each block's P/R is one double division, the per-block term is
    //      dec8-quantized before the order-free decimal sum (dec4 would
    //      zero out ~1/|blocks| terms); f1_k = 2TP_k/(n_k + n₊), the
    //      harmonic identity on exact ints. Degenerate all-negative
    //      corpus → every ΔR NULL → ap NULL (cls_eval's guard
    //      convention). Scale: identical envelope to auc_roc — the scan
    //      collapses to one row per distinct score, GlobalRank's two-pass
    //      prefix (no single-task sort), and two 1-row broadcast scalar
    //      attaches (totals + the F1 max; tfidf1's shape). ----
    "avg_precision" -> ((s, d) => {
      val perS = scored(s, d).groupBy(col("score")).agg(
        count(lit(1)).as("ct"), sum(col("pos")).as("cpos"))
      val withP = graft.operators.GlobalRank.attach(perS,
        Seq(col("score").desc), None,
        Seq("ct" -> "nbefore", "cpos" -> "posbefore"))
      val tot = withP.agg(sum(col("cpos")).as("npos"),
        sum(col("ct") - col("cpos")).as("nneg"))
      def nz(c: Column): Column = when(c === 0L, lit(null)).otherwise(c)
      val b = withP.crossJoin(broadcast(tot))
        .withColumn("tpk", col("posbefore") + col("cpos"))
        .withColumn("nk", col("nbefore") + col("ct"))
        .withColumn("pk", col("tpk").cast("double") / col("nk").cast("double"))
        .withColumn("pprev", when(col("nbefore") === 0L, lit(1.0))
          .otherwise(col("posbefore").cast("double") /
            col("nbefore").cast("double")))
        .withColumn("dr",
          col("cpos").cast("double") / nz(col("npos")).cast("double"))
        .withColumn("f1k", lit(2.0) * col("tpk").cast("double") /
          (col("nk") + col("npos")).cast("double"))
      val ap = b.agg(
        sum(dec8(col("dr") * (col("pk") + col("pprev")) / lit(2.0)))
          .cast(dt8).as("apd"),
        max(col("f1k")).as("fmax"))
      ordered(b.crossJoin(broadcast(ap))
        .filter(col("f1k") === col("fmax"))
        .groupBy(col("npos"), col("nneg"), col("apd"), col("fmax"))
        .agg(min(col("score")).as("ats"))
        .select(col("npos").as("n_pos"), col("nneg").as("n_neg"),
          cstr(col("apd")).as("ap"),
          dec4S(col("fmax")).as("best_f1"),
          dec4S(col("ats")).as("at_score")))
    }),

    // ---- EVAL-5: inter-rater agreement (`cohen_kappa`) — do the
    //      engine's TWO independent language-ID heuristics agree beyond
    //      chance? Rater A = TXT-3's stopword rule (en iff stop-ratio >
    //      0.05), rater B = TXT-LID-NG's trigram-profile argmax (en iff
    //      the top profile is 'en'), both projected onto the shared
    //      binary label space {en, ¬en}. κ = (p_o − p_e)/(1 − p_e) with
    //      p_o = (n11+n00)/N and p_e = (rowA1·colB1 + rowA0·colB0)/N²
    //      — the chance-corrected agreement every annotation pipeline
    //      reports before trusting consensus labels. Exactness: the four
    //      cells are exact int64 from ONE map-side-combined aggregate;
    //      marginal products in DOUBLE (cls_eval's MCC overflow rule);
    //      p_e = 1 (degenerate constant raters) → κ NULL. Rater B is the
    //      GATED txt_langid_ngram builder reused verbatim (its trailing
    //      global sort is eliminated by Catalyst's EliminateSorts under
    //      the join — plan-checked), so the kappa audit can never drift
    //      from the classifier it certifies. Scale: rater B's trigram
    //      explode is the whole cost (scan-proportional, its own row's
    //      envelope); the join is doc-keyed, the rollup is 1 row. ----
    "cohen_kappa" -> ((s, d) => {
      val words = split(col("text"), " ")
      val a = load(s, d, "documents").select(col("doc_id"),
        (size(filter(words, w => w.isin("a", "the"))).cast("double") /
          size(words).cast("double") > 0.05).as("a_en"))
      val bp = LlmOps.all("txt_langid_ngram")(s, d)
        .select(col("doc_id"), (col("pred_lang") === "en").as("b_en"))
      val one = a.join(bp, Seq("doc_id")).agg(
        sum(when(col("a_en") && col("b_en"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a_en") && !col("b_en"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a_en") && col("b_en"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a_en") && !col("b_en"), 1L).otherwise(0L)).as("n00"))
      val Seq(n11, n10, n01, n00) =
        Seq("n11", "n10", "n01", "n00").map(c => col(c).cast("double"))
      val nn = n11 + n10 + n01 + n00
      val po = (n11 + n00) / nn
      val pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) /
        (nn * nn)
      val kappa = (po - pe) /
        when(lit(1.0) - pe === 0.0, lit(null)).otherwise(lit(1.0) - pe)
      ordered(one.select(col("n11"), col("n10"), col("n01"), col("n00"),
        dec4S(po).as("p_o"), dec4S(pe).as("p_e"),
        dec4S(kappa).as("kappa")))
    }))

  val oracle: Map[String, String] = Map(
    "avg_precision" ->
      """WITH sc AS (
        |  SELECT CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('a', 'the'))) AS DOUBLE) /
        |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |pers AS (SELECT score, COUNT(1) AS ct, CAST(SUM(pos) AS BIGINT) AS cpos
        |  FROM sc GROUP BY score),
        |pre AS (SELECT score, ct, cpos,
        |    COALESCE(SUM(ct) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nbefore,
        |    COALESCE(SUM(cpos) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS posbefore
        |  FROM pers),
        |tot AS (SELECT CAST(SUM(cpos) AS BIGINT) AS npos,
        |    CAST(SUM(ct - cpos) AS BIGINT) AS nneg FROM pers),
        |b AS (SELECT score, ct, cpos, nbefore, posbefore, npos, nneg,
        |    posbefore + cpos AS tpk, nbefore + ct AS nk,
        |    CAST(posbefore + cpos AS DOUBLE) / CAST(nbefore + ct AS DOUBLE) AS pk,
        |    CASE WHEN nbefore = 0 THEN 1.0
        |      ELSE CAST(posbefore AS DOUBLE) / CAST(nbefore AS DOUBLE) END AS pprev,
        |    CAST(cpos AS DOUBLE) / CAST(NULLIF(npos, 0) AS DOUBLE) AS dr,
        |    2.0 * CAST(posbefore + cpos AS DOUBLE) /
        |      CAST(nbefore + ct + npos AS DOUBLE) AS f1k
        |  FROM pre CROSS JOIN tot),
        |ap AS (SELECT
        |    CAST(SUM(CAST(floor((dr * (pk + pprev) / 2.0)*100000000+0.5)/100000000
        |      AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS apd,
        |    MAX(f1k) AS fmax
        |  FROM b)
        |SELECT b.npos AS n_pos, b.nneg AS n_neg,
        |  CAST(ap.apd AS VARCHAR) AS ap,
        |  CAST(CAST(floor((ap.fmax)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS best_f1,
        |  CAST(CAST(floor((MIN(b.score))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS at_score
        |FROM b CROSS JOIN ap
        |WHERE b.f1k = ap.fmax
        |GROUP BY b.npos, b.nneg, ap.apd, ap.fmax
        |ORDER BY n_pos NULLS FIRST, n_neg NULLS FIRST, ap NULLS FIRST,
        |  best_f1 NULLS FIRST, at_score NULLS FIRST""".stripMargin,

    "cohen_kappa" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    (CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('a', 'the'))) AS DOUBLE) /
        |      CAST(len(string_split(text, ' ')) AS DOUBLE)) > 0.05 AS a_en
        |  FROM documents),
        |d3 AS (SELECT doc_id, lang, text FROM documents WHERE length(text) >= 3),
        |tri AS (SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS tri
        |  FROM d3, UNNEST(generate_series(1, length(text) - 2)) AS t(i)),
        |prof AS (SELECT lang AS cand, tri FROM (
        |    SELECT lang, tri, COUNT(1) AS n,
        |      ROW_NUMBER() OVER (PARTITION BY lang
        |        ORDER BY COUNT(1) DESC, tri ASC) AS rn
        |    FROM tri GROUP BY lang, tri) WHERE rn <= 20),
        |dt AS (SELECT DISTINCT doc_id, tri FROM tri),
        |best AS (SELECT doc_id, cand, ov FROM (
        |    SELECT dt.doc_id, prof.cand, COUNT(1) AS ov
        |    FROM dt JOIN prof ON dt.tri = prof.tri GROUP BY 1, 2)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY ov DESC, cand ASC) = 1),
        |b AS (SELECT doc.doc_id,
        |    COALESCE(best.cand, 'und') = 'en' AS b_en
        |  FROM documents doc LEFT JOIN best ON doc.doc_id = best.doc_id),
        |one AS (SELECT
        |    CAST(SUM(CASE WHEN a_en AND b_en THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(SUM(CASE WHEN a_en AND NOT b_en THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(SUM(CASE WHEN NOT a_en AND b_en THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(SUM(CASE WHEN NOT a_en AND NOT b_en THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM a JOIN b ON a.doc_id = b.doc_id),
        |k AS (SELECT n11, n10, n01, n00,
        |    CAST(n11 AS DOUBLE) AS d11, CAST(n10 AS DOUBLE) AS d10,
        |    CAST(n01 AS DOUBLE) AS d01, CAST(n00 AS DOUBLE) AS d00
        |  FROM one),
        |f AS (SELECT n11, n10, n01, n00,
        |    (d11 + d00) / (d11 + d10 + d01 + d00) AS po,
        |    ((d11 + d10) * (d11 + d01) + (d01 + d00) * (d10 + d00)) /
        |      ((d11 + d10 + d01 + d00) * (d11 + d10 + d01 + d00)) AS pe
        |  FROM k)
        |SELECT n11, n10, n01, n00,
        |  CAST(CAST(floor((po)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p_o,
        |  CAST(CAST(floor((pe)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS p_e,
        |  CAST(CAST(floor(((po - pe) / NULLIF(1.0 - pe, 0.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS kappa
        |FROM f
        |ORDER BY n11 NULLS FIRST, n10 NULLS FIRST, n01 NULLS FIRST, n00 NULLS FIRST,
        |  p_o NULLS FIRST, p_e NULLS FIRST, kappa NULLS FIRST""".stripMargin,

    "auc_roc" ->
      """WITH sc AS (
        |  SELECT CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('a', 'the'))) AS DOUBLE) /
        |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |rk AS (
        |  SELECT pos, RANK() OVER (ORDER BY score) AS r,
        |    COUNT(1) OVER (PARTITION BY score) AS ct
        |  FROM sc),
        |one AS (
        |  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(1 - pos) AS BIGINT) AS n_neg,
        |    CAST(SUM(CASE WHEN pos = 1 THEN 2 * r + ct - 1 ELSE 0 END) AS BIGINT) AS r2pos
        |  FROM rk),
        |f AS (
        |  SELECT n_pos, n_neg,
        |    CAST(r2pos - n_pos * (n_pos + 1) AS DOUBLE) AS u2,
        |    2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) AS den
        |  FROM one)
        |SELECT n_pos, n_neg,
        |  CAST(CAST(floor((u2 / 2.0)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS u_stat,
        |  CAST(CAST(floor((u2 / NULLIF(den, 0.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS auc,
        |  CAST(CAST(floor((2.0 * (u2 / NULLIF(den, 0.0)) - 1.0)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS gini_rank
        |FROM f
        |ORDER BY n_pos NULLS FIRST, n_neg NULLS FIRST, u_stat NULLS FIRST, auc NULLS FIRST, gini_rank NULLS FIRST""".stripMargin,

    "calibration_bins" ->
      """WITH sc AS (
        |  SELECT CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('a', 'the'))) AS DOUBLE) /
        |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |b AS (
        |  SELECT LEAST(CAST(floor(score * 10.0) AS INT), 9) AS bin, score, pos
        |  FROM sc),
        |agg AS (
        |  SELECT bin, COUNT(1) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(CAST(floor((score)*10000+0.5)/10000 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS ssc
        |  FROM b GROUP BY bin),
        |r AS (
        |  SELECT bin, n, n_pos,
        |    CAST(ssc AS DOUBLE) / CAST(n AS DOUBLE) AS conf,
        |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc
        |  FROM agg),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(CAST(CAST(floor((abs(acc - conf))*10000+0.5)/10000 AS DECIMAL(38,4)) * n AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS we
        |  FROM r),
        |e AS (
        |  SELECT CAST(CAST(floor((CAST(we AS DOUBLE) / CAST(nn AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS ece
        |  FROM tot),
        |spine AS (SELECT unnest(range(0, 10)) AS bin)
        |SELECT CAST(spine.bin AS INT) AS bin,
        |  COALESCE(r.n, 0) AS n, COALESCE(r.n_pos, 0) AS n_pos,
        |  CAST(CAST(floor((r.conf)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS conf,
        |  CAST(CAST(floor((r.acc)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS acc,
        |  e.ece AS ece
        |FROM spine LEFT JOIN r ON spine.bin = r.bin CROSS JOIN e
        |ORDER BY bin NULLS FIRST, n NULLS FIRST, n_pos NULLS FIRST, conf NULLS FIRST, acc NULLS FIRST, ece NULLS FIRST""".stripMargin,

    "brier_decomp" ->
      """WITH sc AS (
        |  SELECT CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('a', 'the'))) AS DOUBLE) /
        |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |b AS (
        |  SELECT LEAST(CAST(floor(score * 10.0) AS INT), 9) AS bin, score, pos
        |  FROM sc),
        |agg AS (
        |  SELECT bin, COUNT(1) AS n, CAST(SUM(pos) AS BIGINT) AS npos,
        |    CAST(SUM(CAST(floor((score)*10000+0.5)/10000 AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS ssc,
        |    CAST(SUM(CAST(floor((score * score)*100000000+0.5)/100000000 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS ssq,
        |    CAST(SUM(CAST(floor((score * CAST(pos AS DOUBLE))*100000000+0.5)/100000000 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS ssp,
        |    CAST(SUM(CAST(floor(((score - CAST(pos AS DOUBLE)) * (score - CAST(pos AS DOUBLE)))*100000000+0.5)/100000000 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS sbr
        |  FROM b GROUP BY bin),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(npos) AS BIGINT) AS tpos,
        |    CAST(SUM(sbr) AS DECIMAL(38,8)) AS sbrt
        |  FROM agg),
        |t AS (
        |  SELECT agg.*, tot.nn, tot.tpos, tot.sbrt,
        |    CAST(ssc AS DOUBLE) / CAST(n AS DOUBLE) AS conf,
        |    CAST(npos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
        |    CAST(tpos AS DOUBLE) / CAST(nn AS DOUBLE) AS base
        |  FROM agg CROSS JOIN tot),
        |comps AS (
        |  SELECT MAX(nn) AS nn, MAX(tpos) AS tpos,
        |    CAST(MAX(sbrt) AS DECIMAL(38,8)) AS sbrt,
        |    CAST(SUM(CAST(floor((CAST(n AS DOUBLE) * (conf - acc) * (conf - acc))*100000000+0.5)/100000000 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS relt,
        |    CAST(SUM(CAST(floor((CAST(n AS DOUBLE) * (acc - base) * (acc - base))*100000000+0.5)/100000000 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS rest,
        |    CAST(SUM(CAST(floor((CAST(ssq AS DOUBLE) - CAST(n AS DOUBLE) * conf * conf)*100000000+0.5)/100000000 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS wbvt,
        |    CAST(SUM(CAST(floor((CAST(ssp AS DOUBLE) - conf * CAST(npos AS DOUBLE))*100000000+0.5)/100000000 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS wcovt
        |  FROM t)
        |SELECT nn AS n,
        |  CAST(CAST(floor((CAST(sbrt AS DOUBLE) / CAST(nn AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS brier,
        |  CAST(CAST(floor((CAST(relt AS DOUBLE) / CAST(nn AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS reliability,
        |  CAST(CAST(floor((CAST(rest AS DOUBLE) / CAST(nn AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS resolution,
        |  CAST(CAST(floor(((CAST(tpos AS DOUBLE) / CAST(nn AS DOUBLE)) * (1.0 - CAST(tpos AS DOUBLE) / CAST(nn AS DOUBLE)))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS uncertainty,
        |  CAST(CAST(floor((CAST(wbvt AS DOUBLE) / CAST(nn AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS wbv,
        |  CAST(CAST(floor((CAST(wcovt AS DOUBLE) / CAST(nn AS DOUBLE))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS wcov
        |FROM comps
        |ORDER BY n NULLS FIRST, brier NULLS FIRST, reliability NULLS FIRST, resolution NULLS FIRST, uncertainty NULLS FIRST, wbv NULLS FIRST, wcov NULLS FIRST""".stripMargin,

    "cls_eval" ->
      """WITH sc AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('a', 'the'))) AS DOUBLE) /
        |        CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.05
        |      THEN 1 ELSE 0 END AS pred
        |  FROM documents),
        |one AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN pred = 1 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN pred = 1 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN pred = 0 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN pred = 0 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM sc),
        |d AS (
        |  SELECT tp, fp, fn, tn,
        |    CAST(tp AS DOUBLE) AS tpd, CAST(fp AS DOUBLE) AS fpd,
        |    CAST(fn AS DOUBLE) AS fnd, CAST(tn AS DOUBLE) AS tnd
        |  FROM one)
        |SELECT tp, fp, fn, tn,
        |  CAST(CAST(floor(((tpd + tnd) / NULLIF(tpd + fpd + fnd + tnd, 0.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS accuracy,
        |  CAST(CAST(floor((tpd / NULLIF(tpd + fpd, 0.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS precision,
        |  CAST(CAST(floor((tpd / NULLIF(tpd + fnd, 0.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS recall,
        |  CAST(CAST(floor((2.0 * tpd / NULLIF(2.0 * tpd + fpd + fnd, 0.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS f1,
        |  CAST(CAST(floor(((tpd * tnd - fpd * fnd) / NULLIF(sqrt((tpd + fpd) * (tpd + fnd) * (tnd + fpd) * (tnd + fnd)), 0.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mcc
        |FROM d
        |ORDER BY tp NULLS FIRST, fp NULLS FIRST, fn NULLS FIRST, tn NULLS FIRST, accuracy NULLS FIRST, precision NULLS FIRST, recall NULLS FIRST, f1 NULLS FIRST, mcc NULLS FIRST""".stripMargin)
}
