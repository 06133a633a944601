package graft

import graft.ops.{Dedup, Ivf}
import org.apache.spark.sql.functions._

/** Stable cluster ids across incremental dedup runs — the nightly
  * contract a scratch relabel breaks (cluster_id churn invalidates every
  * table keyed on it). Pins clustersStable's award semantics on explicit
  * pair graphs, then the two-batch replay on the real corpusDedup /
  * semanticDedup surfaces.
  */
class StableClusterSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("replay with the same graph reproduces prior labels exactly") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id1", "id2")
    val run1 = Dedup.clusters(pairs)
    val run2 = Dedup.clustersStable(pairs, run1)
    assert(labelsOf(run2) == labelsOf(run1))
  }

  test("growth never renames: new members adopt the surviving id") {
    val day1 = Seq((5L, 9L)).toDF("id1", "id2")
    val prior = Dedup.clusters(day1) // {5,9} -> 5
    // day 2: doc 3 (a SMALLER id) joins the component — a scratch
    // relabel would rename the cluster to 3; stable must keep 5
    val day2 = Seq((5L, 9L), (3L, 5L)).toDF("id1", "id2")
    val got = labelsOf(Dedup.clustersStable(day2, prior))
    assert(got == Map(3L -> 5L, 5L -> 5L, 9L -> 5L), got.toString)
  }

  test("merging prior clusters keeps the smaller prior id") {
    val day1 = Seq((10L, 11L), (20L, 21L)).toDF("id1", "id2")
    val prior = Dedup.clusters(day1) // clusters 10 and 20
    val day2 = Seq((10L, 11L), (20L, 21L), (11L, 20L)).toDF("id1", "id2")
    val got = labelsOf(Dedup.clustersStable(day2, prior))
    assert(got.values.toSet == Set(10L), s"merge must retire 20, keep 10: $got")
  }

  test("a split follows the representative; the fragment falls back fresh") {
    val day1 = Seq((10L, 11L), (10L, 20L), (11L, 20L)).toDF("id1", "id2")
    val prior = Dedup.clusters(day1) // {10,11,20} -> 10
    // day 2: the component splits; the rep doc 10 stays with 11, doc 20
    // pairs with newcomer 21 — rep fragment keeps 10, the other goes fresh
    val day2 = Seq((10L, 11L), (20L, 21L)).toDF("id1", "id2")
    val got = labelsOf(Dedup.clustersStable(day2, prior))
    assert(got(10L) == 10L && got(11L) == 10L, got.toString)
    assert(got(20L) == 20L && got(21L) == 20L, got.toString)
    // ids stay unique per component
    assert(got.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
      .values.toSeq.distinct.size == 2)
  }

  test("rep deleted: the surviving fragment still keeps the id (min-fresh award)") {
    val day1 = Seq((10L, 11L), (11L, 12L)).toDF("id1", "id2")
    val prior = Dedup.clusters(day1) // {10,11,12} -> 10
    // doc 10 disappears; 11-12 remain a pair — label 10 survives via the
    // min-fresh-claimant award even without its representative
    val day2 = Seq((11L, 12L)).toDF("id1", "id2")
    val got = labelsOf(Dedup.clustersStable(day2, prior))
    assert(got == Map(11L -> 10L, 12L -> 10L), got.toString)
  }

  test("corpusDedupStable: two-batch replay keeps surviving cluster ids") {
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
    val base = Seq(
      100L -> "alpha beta gamma delta epsilon zeta eta theta",
      101L -> "alpha beta gamma delta epsilon zeta eta theta",
      200L -> "one two three four five six seven eight nine ten",
      201L -> "one two three four five six seven eight nine ten",
      300L -> "lorem ipsum dolor sit amet consectetur adipiscing")
    val run1 = Dedup.corpusDedup(mk(base)).cache()
    val prior = run1.select(col("doc_id"), col("cluster_id"))
    // day 2: a SMALLER-id near-dup of the alpha cluster arrives — the
    // fresh min-label would rename that cluster; stable must not
    val day2 = mk(base :+ (50L -> "alpha beta gamma delta epsilon zeta eta theta"))
    val run2 = Dedup.corpusDedupStable(day2, prior)
    val l1 = labelsOf(run1)
    val l2 = labelsOf(run2)
    assert(l2(100L) == l1(100L) && l2(101L) == l1(101L), s"$l1 vs $l2")
    assert(l2(50L) == l1(100L), "newcomer must adopt the surviving id")
    assert(l2(200L) == l1(200L) && l2(201L) == l1(201L))
    // exactly one keeper per cluster still holds
    val run2ByCluster = run2.collect().groupBy(_.getAs[Long]("cluster_id"))
    assert(run2ByCluster.values.forall(_.count(_.getAs[Boolean]("keep")) == 1))
    run1.unpersist()
  }

  test("semanticDedupStable: labels survive a two-batch replay") {
    val e = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val run1 = Ivf.semanticDedup(e, Ivf.Flat(Ivf.train(e, 16, iters = 0)), threshold = 0.4)
    val prior = run1.select(col("vec_id"), col("cluster_id"))
    assert(prior.count() > 0, "fixture must cluster something")
    // replay the SAME corpus with priors: labels must be identical
    val run2 = Ivf.semanticDedupStable(e, prior,
      Ivf.Flat(Ivf.train(e, 16, iters = 0)), threshold = 0.4)
    val a = run1.select(col("vec_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = run2.select(col("vec_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "replay with priors must reproduce labels")
  }
}
