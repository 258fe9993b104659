package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Fleet-wide O(n²) tripwire: no gated query may plan a CartesianProduct,
  * and BroadcastNestedLoopJoin is allowed only where the operator's
  * declared semantics genuinely have no equi-key — a small broadcast side
  * probed per row (brute-force sim1, bounded cross joins, theta-only
  * conditions). Everything else must reach its join through an equi key
  * (hash/sort-merge/broadcast-hash); a new query that accidentally drops
  * its blocking predicate fails here, at sf0.001, before it can melt a
  * cluster at corpus scale. */
class CartesianGuardSpec extends AnyFunSuite {
  import TestSpark._

  /** Queries whose DECLARED semantics pair every row of one side with
    * every row of a (small, broadcast) other side. */
  private val bnljAllowed = Set(
    "sim1",       // brute-force baseline: query set × corpus by design
    "join8",      // bounded cross join (region × nation)
    "join9",      // pure theta/band join — no equi key exists
    "join9_band", // pure band join — no equi key exists
    "sim1_ivf",   // vectors × broadcast centroid table (cell assignment)
    "gap1",       // date spine × tiny priority dimension: a bounded,
                  // dims-proportional cross product by construction
    "sim1_lsh_multi", // OR of two bucket equalities over a broadcast query
                  // set: the disjunction defeats hash joins by definition;
                  // the corpus×corpus form is a unionAll of equi-joins
    "subq1",      // correlated scalar subquery: decorrelated agg is tiny
    "tfidf1",     // global doc count attached via crossJoin(broadcast(1-row
                  // aggregate)): a single-row scalar side — the BNLJ probes
                  // one row, it cannot amplify
    "smp_weighted", // w_max scalar attach: same 1-row broadcast crossJoin
                  // shape as tfidf1
    "mix_plan",   // target-tokens scalar attach: 1-row broadcast
                  // crossJoin of the global min/sum aggregate
    "mix_epochs", // (wsum, all_tokens) scalar attach: the same 1-row
                  // broadcast crossJoin shape as mix_temp's
    "bm25",       // (N, avgdl) scalar attach: 1-row broadcast crossJoin,
                  // the tfidf1 shape
    "retrieve_rerank", // same scalar attach inside its BM25 recall stage
    "retrieve_rrf", // BM25 scalar attach + the sim1 brute-force dense stage
                  // (broadcast query set × corpus by declared semantics;
                  // the 100 TB dense stage swaps to the IVF/LSH candidates)
    "hard_negatives", // same two stages as retrieve_rrf (BM25 scalar attach
                  // + brute-force dense probe); the mining anti-join
                  // itself is equi-keyed
    "forget_user", // per-table audit row = crossJoin of two 1-row counting
                  // aggregates (the tfidf1 scalar-attach shape); the scrub
                  // anti-join itself is equi-keyed and plan-guarded
    "cooc_lift",  // corpus-size scalar attach: 1-row broadcast crossJoin
                  // (tfidf1's N shape); the pair join itself is equi-keyed
                  // on doc_id
    "dq_benford", // table-total scalar attach: 1-row broadcast crossJoin
                  // (tfidf1's N shape) feeding the 9-row spine's obs freq
    "graph_triangles", // the census output row = crossJoin of four 1-row
                  // counting aggregates (forget_user's shape); the wedge
                  // and closure joins themselves are equi-keyed
    "drift_psi",  // two 1-row scalar attaches (global min/max/mid bounds +
                  // half totals), the tfidf1 shape; the bin aggregate and
                  // spine join are equi-keyed
    "drift_chi2", // the same two 1-row scalar attaches (mid-ts bound +
                  // half totals/k) onto the |types|-row cell table; the
                  // critical-value lookup is an equi-join on df
    "cramers_v",  // the r×c contingency spine is a domain×domain
                  // broadcast cross (bounded by category counts, never
                  // data — gap1's dims-proportional shape) + the 1-row
                  // totals attach
    "quantile_bin", // decile-cut scalar attach: 1-row broadcast crossJoin
                  // of the global percentile aggregate (tfidf1's N shape)
    "curriculum", // quintile-cut scalar attach, same shape as quantile_bin
    "seasonal_profile", // global-mean scalar attach onto the 24-row profile
    "ivf_eval",   // truth leg = sim1's declared broadcast-query exact
                  // shape (query-count-bounded by construction); the IVF
                  // leg and the audit join are equi-keyed
    "ivf_pq",     // IVF cell assignment = sim1_ivf's vectors × broadcast
                  // centroid table; the LUT, ADC, and re-rank joins are
                  // all equi-keyed
    "ivf_pq_eval", // ivf_eval's rationale: brute-force truth leg +
                  // sim1_ivf's cell-assignment cross; audit join equi-keyed
    "ivf_pq_curve", // same two declared shapes (truth leg + cell
                  // assignment); the three shortlist re-ranks are equi-keyed
    "ivf_pq_res", // sim1_ivf's cell-assignment cross; residual/LUT/q·μ/
                  // re-rank joins are all equi-keyed
    "ivf_pq_stream", // ivf_pq's rationale: the Lloyd-training and
                  // cell-assignment crosses are vectors × broadcast-k
                  // index metadata; the store-state ADC/re-rank joins
                  // are all equi-keyed
    "ivf_pq_res_eval", // ivf_eval's rationale on the residual stack
    "rfm",        // two 1-row scalar attaches (global anchor ts + the
                  // three quintile cut arrays), the tfidf1 shape
    "standard_scale", // the 1-row moment vector attaches twice (checksum
                  // pass + the fitted-scaler output row), tfidf1's shape
    "bpe_apply",  // the 1-row learned-merge-table attach (p1..p6) onto the
                  // corpus apply scan: tfidf1's scalar-attach shape
    "join_audit", // 1-row total attach for the share columns (tfidf1's
                  // shape); the count-relation join itself is equi-keyed
    "quota_alloc", // corpus-total scalar attach: 1-row broadcast crossJoin
                  // (tfidf1's N shape) feeding the integer share division
    "kmeans_iter", // the 1-row reassignment-count attach on the round
                  // census (tfidf1's scalar shape); the distance passes
                  // are kmeans_step's declared vectors × k-seed probe
    "kmeans_step", // vectors × broadcast k-row seed table: every vector
                  // must score against all k centroids by declared Lloyd
                  // semantics (sim1_ivf's cell-assignment shape)
    "drift_ks",   // three 1-row scalar attaches (temporal midpoint, half
                  // totals, the D max), all tfidf1's broadcast shape; the
                  // value-collapse aggregate and GlobalRank's offset join
                  // are equi-keyed
    "mix_temp",   // 1-row (weight-sum, corpus-total) scalar attach onto
                  // the |langs|-row inventory: tfidf1's broadcast shape
    "ann_ndcg",   // truth leg = sim1's declared broadcast-query brute
                  // shape (ivf_eval's whitelist rationale, sample-able at
                  // scale); the approx leg is bucket-equi-keyed and the
                  // audit join is equi-keyed
    "vec_mrl",    // four truncation-width brute legs + the truth leg, all
                  // sim1's declared broadcast-query audit shape (declared
                  // sample-able at scale); the hit joins are equi-keyed
    "fzj_jw",     // broadcast self-pair of the DISTINCT name domain —
                  // vocabulary-sized by construction (the corpus collapses
                  // through one distinct first); JW has no lossless
                  // equi-key blocking, and a data-sized name domain needs
                  // fzj1's blocking family instead (declared in SURVEY)
    "theil_sen",  // broadcast self-pair of the WEEKLY series — calendar-
                  // bounded by construction (corpus collapses to |weeks|
                  // rows first), plus two 1-row scalar attaches (d0, the
                  // fitted slope); the declared pairwise-median semantics
                  // have no equi-key
    "brier_decomp", // 1-row (N, base-rate, brier-total) scalar attach onto
                  // the 10-row bin relation: calibration_bins' shape
    "vec_norm_drift", // drift_ks's two 1-row scalar attaches (half totals
                  // + D max) — the same whitelisted shape on norms
    "ivl_concurrency", // two 1-row scalar attaches (peak, session count)
                  // onto the argmin timestamp rollup: drift_ks's shape
    "corr_kendall", // broadcast self-pair of the HOURLY series —
                  // calendar-bounded by construction (theil_sen's shape);
                  // concordance pairing has no equi-key, plus three 1-row
                  // scalar attaches (n, tie terms)
    "txt_zipf",   // 1-row (vocab, total) scalar attach onto the 1-row
                  // OLS fit: tfidf1's broadcast shape
    "calibration_bins", // 1-row ECE scalar attach onto the 10-row bin
                  // spine: tfidf1's broadcast shape
    "avg_precision", // two 1-row scalar attaches (class totals, then the
                  // F1 max for the argmax filter): tfidf1's broadcast
                  // shape twice — drift_ks's dmax pattern
    "survival_km", // two 1-row scalar attaches (corpus-end anchor, the
                  // at-risk total) onto the |lifetimes|-row series:
                  // tfidf1's broadcast shape
    "ivf_sq",     // ivf_pq's rationale (the Lloyd cell-assignment cross)
                  // plus ONE 1-row scalar attach: the 128-long per-dim
                  // [min,max] stats row broadcast onto the encode scan —
                  // index metadata, tfidf1's broadcast shape
    "ivf_sq_eval", // ivf_pq_eval's rationale: brute-force truth leg +
                  // the ivf_sq shapes above
    "ivf_sq_stream", // ivf_sq's rationale: the Lloyd training and grid
                  // metadata crosses run inside the store build + the
                  // search-side shapes are ivf_sq's own
    "ivf_pq_sample_eval", // ivf_pq_eval's rationale verbatim — the
                  // sample-train path changes only WHICH vectors feed the
                  // Lloyd/codebook training, not any join shape
    "ivf_sq_sample_eval", // ivf_sq_eval's rationale verbatim (sample-
                  // trained grid + cells, same declared crosses)
    "ivf_pq_cap_eval", // ivf_pq_sample_eval's rationale + ONE 1-row
                  // threshold attach: the K-th-smallest (hash, vec_id)
                  // pair from the bounded take broadcast onto the scan
                  // (tfidf1's scalar-attach shape) — the fixed-size
                  // training-slice selection
    "ivf_sq_cap_eval", // ivf_pq_cap_eval's rationale for the SQ family
    "dsir_select", // 1-row (corpus-total, target-total) scalar attach onto
                  // the 256-row bucket census: tfidf1's broadcast shape
    "vec_jl",     // vec_mrl's rationale: the truth leg and the three
                  // projected-width legs are all sim1's declared
                  // broadcast-query audit shape (sample-able at scale)
    "vec_pca",    // per round ONE 64-double iterate broadcast onto the
                  // centered scan (tfidf1's 1-row scalar-attach shape),
                  // plus the 1-row mean/total-variance attaches — the
                  // distributed power method's declared state exchange
    "quality_lr", // per round three 1-row scalar attaches (N, the z
                  // constant K, the residual total R) — the sparse
                  // relational GD's declared state exchange; the
                  // posting/weight joins are all equi-keyed
    "lr_eval",    // quality_lr's and dsir_select's declared scalar
                  // attaches composed (the audit scores both rules)
    "lr_calibration", // quality_lr's GD scalar attaches + the 1-row ECE
                  // attach onto the 10-bin spine (calibration_bins'
                  // whitelisted shape)
    "lr_temp",    // lr_calibration's attaches + the 1-row u/gradient
                  // scalars of the 5 Newton rounds and the published-T
                  // attach — all 1-row broadcasts by construction
    "join_size_cms" // two 1-row sketch-total attaches onto the 1-row
                  // exact leg (tfidf1's scalar shape twice — drift_ks's
                  // pattern); the counter rows themselves are equi-keyed
                  // hash-bucket aggregates
  )

  test("no gated query plans a CartesianProduct; BNLJ only where declared") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
        if (cart) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
        else None
      } catch {
        case e: Throwable => Some(s"$name: plan failed: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    // Every builder has now run, so every Warehouse.once it reaches has
    // built; an unregistered one would land inside a timed Bench sample.
    val unregistered = graft.core.Warehouse.buildSecs.keySet.asScala.toSet --
      SparkEntry.prebuilds.map(_._1)
    assert(unregistered.isEmpty, s"Warehouse.once builds missing from prebuilds: $unregistered")
  }
}
