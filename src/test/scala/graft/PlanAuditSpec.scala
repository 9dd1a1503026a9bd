package graft

import org.scalatest.funsuite.AnyFunSuite

/** Standing plan-shape guard over the whole B/C query surface (r8
  * verdict residual: the ExplainAudit tool printed plans but gated
  * nothing). The one plan shape that must never appear UNdeclared at
  * 100 TB is a cartesian product — every other heavy shape (shuffle,
  * sort, wide agg) is sometimes the right plan, but an unhinted
  * cartesian is always a scale bug. The declared exceptions are the
  * capped O(N²) ground-truth sides (each exists to verify a bucketed
  * path and filters to a bounded universe first) and the two
  * brute-force ANN baselines whose query side is a broadcast batch.
  *
  * CDC store gates are excluded here: their plans are store machinery
  * (publish/merge/maintain) asserted bucket-by-bucket in their own
  * specs, and building them executes real multi-version publishes.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  private val sf = LocalSpark.sf

  /** Queries DECLARED to carry a bounded cartesian: capped all-pairs
    * truth sides and broadcast-batch brute-force baselines. Adding a
    * name here is a review decision — the docstring of the query must
    * say why the product is bounded.
    */
  private val declaredCartesian = Set(
    "text_jaccard_pairs", // C4b: THE declared O(N²) oracle, 500-doc cap
    "dedup_minhash_lsh", // r9 recall gate: truth side capped at 500 docs
    "dedup_minhash_incremental", // same truth side
    "dedup_simhash", // banding-law brute force, 2000-doc cap
    "dedup_embedding", // C5: exact cosine ground truth (embeddings table)
    "ann_cosine_topk", // C6: brute-force baseline, broadcast query batch
    "ann_pq", "ann_ivf_pq", // recall gates: brute-force truth side
    "ann_lsh", // self-retrieval gate: exact-cosine stage per bucket pair
    "decontaminate_semantic", // capped benchmark side
    "dedup_semantic_keep", // exact verify over LSH-bucketed candidates
    "sample_cluster_balanced", // corpus × 16-centroid broadcast cross
    "mine_hard_negatives", "text_bm25_topk", "text_rrf_fusion", // 1-row stats crossJoin
    "q_profile", // 1-row global-stats crossJoin
    "q_basket_pairs", // 1-row basket-total crossJoin
    "text_importance", // 1-row corpus-totals crossJoin
    "q_funnel", // 1-row stage-count crossJoins
    "q_equidepth_hist", // 1-row decile-boundary crossJoin
    "eval_sample_diversity", // broadcast ppm-bucket sample, C6's shape
    "q_attribution" // 1-row purchase-total crossJoin
  )

  test("no undeclared cartesian product in any B/C query plan") {
    val names = (queries.Relational.defs ++ ops.OpsQueries.defs).map(_.name)
    val hasCartesian = names.flatMap { n =>
      val plan = SparkEntry.queries(n)(spark, sf)
        .queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(n) else None
    }.toSet
    val bad = hasCartesian -- declaredCartesian
    assert(bad.isEmpty,
      s"UNdeclared cartesian products (fix the plan or declare with a reason): $bad")
    // declarations that currently plan WITHOUT a product (broadcast
    // NLJ or pruned away at this SF) — informational, not a failure:
    // small-side estimates legitimately move between SFs
    info(s"declared-but-absent at sf0.001: ${(declaredCartesian -- hasCartesian).toSeq.sorted}")
  }

  test("each CDC parse gate decodes its JSON payload with one from_json") {
    // "parse once": a second from_json in the executed plan means the
    // payload is decoded twice per change row
    for (n <- Seq("cdc_typed_projection", "cdc_typed_projection_v2",
        "cdc_rowkey", "cdc_parse")) {
      val plan = SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan.toString
      assert("from_json".r.findAllIn(plan).length == 1, s"$n:\n$plan")
    }
  }
}
