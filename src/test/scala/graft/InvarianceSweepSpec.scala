package graft

/** Partitioning-invariance, enforced in CI for a curated high-risk
  * subset of the registry (the FULL sweep — every query, both confs —
  * is `tools.InvarianceSweep`, run at round close; its first full run
  * was clean). On a real cluster the partition count is whatever the
  * scheduler gives you, so a result that depends on shuffle width, AQE
  * coalescing, or scan-split boundaries is a latent wrong answer, not a
  * style issue. The subset picks one representative per determinism
  * mechanism the engine claims: exact-decimal partial sums, bounded
  * top-k heaps with pinned tie-breaks, merge-order-bounded sketches,
  * pointer-jumping CC, seeded hash sampling, the distributed prefix
  * Scan, and the greedy per-step MMR frames.
  */
class InvarianceSweepSpec extends SparkSpec {

  // one per claimed determinism mechanism — adding a query here is
  // cheap; each costs two sf0.001 runs
  private val subset = Set(
    "return_moments", // exact DECIMAL co-moment partial sums
    "symbol_correlations", // pairwise exact-decimal covariance
    "ema", // per-symbol sequential sweep (mapPartitions recursion)
    "heaps_curve", // distributed prefix scan (the r10 re-plan)
    "packing_stats", // ops.Scan running totals
    "knn_pagerank", // integer-scaled iterative ranks
    "corpus_dedup", // MinHash LSH + pointer-jumping CC
    "heavy_hitters", // Misra–Gries merge-order-bounded guarantee
    "approx_distinct", // HLL sketch surfaced via error-bound contract
    "dedup_minhash", // banded LSH candidate join
    "corpus_sample", // seeded hash sampling
    "budget_sample", // weighted seeded sampling under a budget
    "bm25_search", // TakeOrdered heap with pinned tie-break
    "ann_topk", // bounded top-k partial aggregate
    "ann_ivf", // centroid assignment + cell probe
    "hybrid_rrf", // full-outer rank fusion of two heaps
    "mmr_rerank", // k-step greedy loop over (qid, step) frames
    "source_minhash", // element-wise-min signature aggregation
    "skew_report", // count agg + broadcast stats + top-10 heap
    "zorder_skip", // interleaved-bit layout simulation
    "longest_repeat", // distributed suffix order + adjacent LCP
    "trimmed_mean", // percentile-window trim boundaries
    "volume_bars") // cumulative integer volume clock

  test("high-risk registry queries are partition-invariant") {
    val missing = subset -- SparkEntry.queries.map(_.name)
    assert(missing.isEmpty, s"subset names unknown queries: $missing")
    val fs = graft.tools.InvarianceSweep.failures(spark, Sf0001, Some(subset))
    assert(fs.isEmpty, "queries whose results depend on partitioning:\n" +
      fs.map { case (n, m) => s"  $n: $m" }.mkString("\n"))
  }
}
