package graft

import graft.ops.{Ivf, Similarity}
import org.apache.spark.sql.functions._

/** Filtered (metadata-predicate) ANN — the serving contract plain top-k +
  * post-filter breaks: under a selective predicate, post-filtering the
  * unfiltered top-k silently returns < k rows. These specs pin the two
  * halves of the filtered path's contract on the sf0.001 embeddings
  * (500 vectors, 10 labels ≈ 45-55 survivors per label):
  *   - k results whenever ≥ k survivors exist (probe + rescue),
  *   - equality with POST-FILTERED EXACT search when every cell is probed
  *     (the approximation is only ever the cell pruning, never the
  *     filter), for the flat, PQ, and reranked variants.
  */
class FilteredAnnSpec extends SparkSpec {

  private lazy val e = spark.read.parquet(s"$Sf0001/embeddings.parquet")
  private lazy val q = e.where(col("vec_id") < 10)
  private def pred = col("label") === 7
  private def flat = Ivf.Flat(Ivf.train(e, 16, iters = 0))

  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("filtered search returns exactly k rows per query (k-guarantee)") {
    val survivors = e.where(pred).count()
    assert(survivors >= 11, s"fixture drift: want >= 11 label-7 rows, got $survivors")
    val r = Ivf.searchTopKFiltered(e, flat, q, 10, pred).cache()
    val counts = r.groupBy(col("qid")).count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(counts.size == 10, s"expected all 10 queries answered: $counts")
    assert(counts.values.forall(_ == 10L), s"underfilled result: $counts")
    // the filter is INSIDE the scan: no non-matching neighbor can appear
    val offPred = r.join(e.where(!pred).select(col("vec_id").as("id2")),
      Seq("id2"), "left_semi").count()
    assert(offPred == 0L, s"$offPred neighbors violate the predicate")
    r.unpersist()
  }

  test("full probe == post-filtered exact (flat)") {
    val full = Ivf.searchTopKFiltered(e, flat, q, 10, pred, nprobe = 16)
    val exact = Similarity.bruteForceTopK(spark, e.where(pred), q, 10)
    assert(sameRows(full, exact),
      "probing every cell must reduce filtered IVF to post-filtered exact")
  }

  test("starved predicate returns every survivor, exactly (rescue path)") {
    // a predicate with < k survivors: every query underfills, the rescue
    // pass takes over, and the result is the full exact answer over the
    // survivor set — not a silent truncation
    val sparse = pred && col("vec_id") % 7 === 0
    val n = e.where(sparse).count()
    assert(n > 0 && n < 10, s"fixture drift: want 1-9 sparse survivors, got $n")
    val r = Ivf.searchTopKFiltered(e, flat, q, 10, sparse)
    val exact = Similarity.bruteForceTopK(spark, e.where(sparse), q, 10)
    assert(sameRows(r, exact), "starved filtered search must equal exact")
  }

  test("probe recall vs post-filtered exact is measured and floored") {
    val approx = Ivf.searchTopKFiltered(e, flat, q, 10, pred)
    val exact = Similarity.bruteForceTopK(spark, e.where(pred), q, 10)
    val rec = Similarity.recallAtK(exact, approx)
    // nprobe/numCells = 1/4 of cells scanned; rescue tops up underfilled
    // queries with exact answers, so recall sits well above the raw cell
    // fraction (measured 0.62 on this fixture) — floor with slack
    assert(rec >= 0.45, s"filtered recall@10 regressed: $rec")
  }

  test("full probe == post-filtered ADC exact (PQ), and rerank goes exact") {
    val cents = Ivf.Flat(Ivf.train(e, 16, 1))
    val enc = Ivf.ivfPqReconFrame(e, cents)
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
    // ADC reference: brute-force cosine over the reconstructed survivors
    val encQ = enc.where(pred)
      .select(col("vec_id"), col("recon").as("embedding")) // already double[]
    val adcExact = Similarity.bruteForceTopK(spark, encQ, q, 10)
    val adcFull = Ivf.ivfPqSearchFiltered(enc, cents, q, 10, pred, nprobe = 16)
    assert(sameRows(adcFull, adcExact),
      "full-probe filtered ADC must equal post-filtered ADC exact")
    // rerank with every cell probed and k' >= survivor count: the ADC cut
    // keeps every survivor, so the exact-cosine re-rank IS post-filtered
    // exact search — the whole filtered chain collapses to ground truth
    val rerank = Ivf.ivfPqSearchRerankFiltered(enc, e, cents, q, 10, pred,
      nprobe = 16, kFactor = 16)
    val exact = Similarity.bruteForceTopK(spark, e.where(pred), q, 10)
    assert(sameRows(rerank, exact),
      "wide filtered rerank must reduce to post-filtered exact")
  }
}
