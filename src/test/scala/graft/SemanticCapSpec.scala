package graft

import graft.ops.{Dedup, Ivf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The oversized-cell cap on the semantic-dedup pair feed (r13 verdict
  * ask #1): `cellPairsCapped` bounds a cell's pair emission at
  * ≤ maxCell representatives cross-pairing + every non-representative
  * attaching to the representatives — O(m·maxCell) edges instead of the
  * O(m²) a boilerplate mega-cluster costs under all-pairs, with CC
  * connectivity preserved through the representative hubs.
  */
class SemanticCapSpec extends SparkSpec {
  import spark.implicits._

  private def cellsOf(rows: Seq[(Long, Long, Seq[Double])]): DataFrame =
    rows.toDF("cid", "vec_id", "v")
      .select(col("cid").cast("long"), col("vec_id").cast("long"),
        col("v").cast("array<double>"))

  // m near-identical vectors (cos ≈ 1 pairwise) in ONE cell — the
  // boilerplate mega-cluster that routes to a single scid regardless of
  // quantizer structure
  private def megaCell(m: Int): Seq[(Long, Long, Seq[Double])] =
    (1 to m).map(i => (0L, i.toLong, Seq(1.0, 1e-6 * i, 0.0)))

  test("mega-cell: pair feed is O(m·maxCell), never O(m²)") {
    val m = 300
    val maxCell = 16
    val pairs = Ivf.cellPairsCapped(cellsOf(megaCell(m)), 0.4, maxCell)
    val n = pairs.count()
    // reps cross-pair (≤ C(maxCell,2)) + each non-rep attaches to ≤
    // maxCell reps; all cosines here pass the threshold so the bound is
    // tight — and it is ~60× below the all-pairs C(300,2) = 44 850
    val bound = maxCell.toLong * (maxCell - 1) / 2 +
      (m - maxCell).toLong * maxCell
    assert(n == bound, s"expected the exact capped bound $bound, got $n")
    assert(n < m.toLong * (m - 1) / 2 / 8, "cap did not bite")
  }

  test("mega-cell: CC connectivity survives the cap (one cluster, one keeper)") {
    val m = 300
    val comp = Dedup.clusters(
      Ivf.cellPairsCapped(cellsOf(megaCell(m)), 0.4, maxCell = 16))
    val rows = comp.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == m, s"all $m members must cluster, got ${rows.length}")
    assert(rows.map(_._2).distinct.length == 1,
      "a near-identical mega-cluster must stay ONE component under the cap")
  }

  test("cells at or under maxCell: capped == uncapped all-pairs exactly") {
    // two small cells (sizes 5 and 3, both ≤ maxCell): every member is a
    // representative, so the capped feed IS the triangular all-pairs set
    val cells = cellsOf(
      (1 to 5).map(i => (0L, i.toLong, Seq(1.0, 0.01 * i, 0.0))) ++
      (1 to 3).map(i => (1L, (100 + i).toLong, Seq(0.0, 0.01 * i, 1.0))))
    val capped = Ivf.cellPairsCapped(cells, 0.4, maxCell = 16)
      .as[(Long, Long)].collect().toSet
    val allPairs = (for {
      ids <- Seq((1 to 5).map(_.toLong), (1 to 3).map(i => (100 + i).toLong))
      a <- ids; b <- ids if a < b
    } yield (a, b)).toSet // all cosines within a bundle are ≈ 1 ≥ 0.4
    assert(capped == allPairs,
      s"small-cell output must be bit-identical to all-pairs: " +
        s"${capped.size} vs ${allPairs.size}")
  }

  test("cap respects the cosine threshold on BOTH pair kinds") {
    // one cell of 4: two near-identical (1, 2), two orthogonal strays
    // (3, 4) — with maxCell = 2 the hash order decides reps, but no
    // orthogonal pair may ever pass the 0.4 threshold
    val cells = cellsOf(Seq(
      (0L, 1L, Seq(1.0, 0.0, 0.0)), (0L, 2L, Seq(0.999, 0.001, 0.0)),
      (0L, 3L, Seq(0.0, 1.0, 0.0)), (0L, 4L, Seq(0.0, 0.0, 1.0))))
    val pairs = Ivf.cellPairsCapped(cells, 0.4, maxCell = 2)
      .as[(Long, Long)].collect().toSet
    pairs.foreach { case (a, b) =>
      assert(Set(Set(1L, 2L)).contains(Set(a, b)),
        s"pair ($a,$b) is below the threshold and must not be emitted")
    }
  }

  test("knn candidate cap: small cells keep exact within-cell kNN") {
    // two cells of 5 and 3 ≤ maxCand: the capped kernel must equal the
    // effectively-uncapped one bit-for-bit (every member is a candidate)
    val cells = cellsOf(
      (1 to 5).map(i => (0L, i.toLong, Seq(1.0, 0.02 * i, 0.0))) ++
      (1 to 3).map(i => (1L, (100 + i).toLong, Seq(0.0, 0.02 * i, 1.0))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Long)].collect().toSet
    assert(rows(Ivf.knnGraphOnCells(cells, 3, maxCand = 16)) ==
      rows(Ivf.knnGraphOnCells(cells, 3, maxCand = 1 << 20)))
  }

  test("knn candidate cap: a mega-cell scores against reps only, never all-pairs") {
    // 300 near-identical vectors, cap 16: every vector still gets its k
    // neighbors (all cos ≈ 1) but the candidate set is the 16
    // hash-sampled representatives — observable as neighbor ids drawn
    // from ≤ 16 distinct vectors, O(m·16) work instead of O(m²)
    val m = 300
    val g = Ivf.knnGraphOnCells(cellsOf(megaCell(m)), 3, maxCand = 16)
      .as[(Long, Long, Double, Long)].collect()
    assert(g.length == m * 3, s"every vector gets k=3 neighbors: ${g.length}")
    val distinctNeighbors = g.map(_._2).distinct.length
    assert(distinctNeighbors <= 16,
      s"neighbors must come from the ≤16 reps, saw $distinctNeighbors")
    assert(g.forall(_._3 > 0.99), "near-identical cell: all cosines ≈ 1")
  }

  test("knn candidate cap: neighbor QUALITY floor — capped neighbor lists " +
       "are as close as uncapped on a structured mega-cell") {
    // r14 verdict ask #4: the cap's quality claim ("sampled neighbors are
    // statistically indistinguishable") spec-pinned, not just asserted.
    // A 300-member cell with REAL internal structure (two sub-directions
    // + per-member jitter — not all-identical, so cosines genuinely
    // order): for every vector, the capped top-k's mean neighbor cosine
    // may trail the uncapped top-k's by at most 0.01 — the cap may swap
    // WHICH near-duplicates it returns, never HOW CLOSE they are.
    val m = 300
    val rows = (1 to m).map { i =>
      val a = if (i % 2 == 0) 1e-3 else -1e-3
      (0L, i.toLong, Seq(1.0, a + 1e-5 * (i % 17), 1e-5 * (i % 13)))
    }
    val capped = Ivf.knnGraphOnCells(cellsOf(rows), 5, maxCand = 32)
      .as[(Long, Long, Double, Long)].collect()
    val unc = Ivf.knnGraphOnCells(cellsOf(rows), 5, maxCand = 1 << 20)
      .as[(Long, Long, Double, Long)].collect()
    val mc = capped.groupBy(_._1).view.mapValues(g => g.map(_._3).sum / g.size)
    val mu = unc.groupBy(_._1).view.mapValues(g => g.map(_._3).sum / g.size)
    assert(mc.keySet == mu.keySet, "capped graph must cover every vector")
    val worst = mu.map { case (v, u) => u - mc(v) }.max
    assert(worst <= 0.01,
      f"capped neighbors degrade mean cosine by $worst%.6f > 0.01 somewhere")
    // and edge recall is printable context, not the contract: in a dup
    // family the ids are interchangeable — quality is the cosine floor
    val uncEdges = unc.map(e => (e._1, e._2)).toSet
    val kept = capped.map(e => (e._1, e._2)).count(uncEdges.contains)
    info(f"[quality] mega-cell edge recall ${kept.toDouble / uncEdges.size}%.3f, " +
      f"worst mean-cos gap $worst%.6f")
  }

  test("knnGraphCollapsed: dup-flood exactness — collapse+expand equals the " +
       "UNCAPPED kernel bit-for-bit where the capped kernel loses quality") {
    // three duplicate families (40 identical copies each) + two
    // singletons in ONE cell: 122 members, distinct count 5. The capped
    // kernel at cap 16 samples 16 of 122 and under-covers families; the
    // collapsed kernel runs on 5 distinct vectors and expands exactly.
    def unit(xs: Array[Double]): Seq[Double] = {
      val n = math.sqrt(xs.map(x => x * x).sum); xs.map(_ / n).toSeq
    }
    val protos = Seq(
      unit(Array(1.0, 0.1, 0.0)), unit(Array(1.0, 0.0, 0.2)),
      unit(Array(0.9, 0.3, 0.1)))
    val rows =
      (for (f <- 0 until 3; i <- 0 until 40)
        yield (0L, (f * 1000 + i).toLong, protos(f))) ++
      Seq((0L, 5000L, unit(Array(0.8, 0.4, 0.3))),
          (0L, 6000L, unit(Array(0.7, 0.5, 0.2))))
    val cells = cellsOf(rows)
    def g(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Long)].collect().toSet
    val uncapped = g(Ivf.knnGraphOnCells(cells, 5, maxCand = 1 << 20))
    val collapsed = g(Ivf.knnGraphCollapsedOnCells(cells, 5, maxCand = 16))
    assert(collapsed == uncapped,
      "collapse+expand must equal the uncapped kernel on a dup flood")
    // and the plain capped kernel at the same cap really does lose
    // quality here — the collapse is doing real work, not vacuously true
    val capped = g(Ivf.knnGraphOnCells(cells, 5, maxCand = 16))
    assert(capped != uncapped, "fixture too easy: cap 16 should bite on 122 members")
  }

  test("knnGraphCollapsed: on all-distinct real data it equals the uncapped " +
       "kernel (families of one — collapse is the identity)") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val cents = Ivf.train(emb, 4, iters = 0)
    val cells = graft.core.Materialize.once(
      Ivf.assign(emb.where(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
        cents)
        .select(col("cid").cast("long").as("cid"), col("vec_id"), col("v")))
    def g(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Long)].collect().toSet
    val a = g(Ivf.knnGraphOnCells(cells, 5, maxCand = 1 << 20))
    val b = g(Ivf.knnGraphCollapsedOnCells(cells, 5, maxCand = 1 << 20))
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(a == b, "collapsed kernel must be the identity on distinct data")
  }

  test("semanticDedupCollapsed: dup-flood output equals the UNCAPPED " +
       "all-pairs dedup while pair generation runs at distinct scale") {
    // 3 families x 40 exact copies + 2 singletons; maxCell = 8 would
    // sample a 122-member cell hard — but the distinct frame has <= 5
    // vectors per cell, so the collapsed feed is all-pairs-exact on
    // reps plus exact family attachment
    def unit(xs: Array[Double]): Array[Float] = {
      val n = math.sqrt(xs.map(x => x * x).sum); xs.map(x => (x / n).toFloat)
    }
    val protos = Seq(
      unit(Array(1.0, 0.1, 0.0)), unit(Array(1.0, 0.0, 0.2)),
      unit(Array(0.9, 0.3, 0.1)))
    val emb = ((for (f <- 0 until 3; i <- 0 until 40)
        yield ((f * 1000 + i).toLong, protos(f))) ++
      Seq((5000L, unit(Array(0.8, 0.4, 0.3))),
          (6000L, unit(Array(0.7, 0.5, 0.2)))))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Boolean)].collect().toSet
    val tl = Ivf.trainTwoLevel(emb, k1 = 2, k2 = 2)
    val uncapped = rows(Ivf.semanticDedup(emb, tl,
      threshold = 0.4, maxCell = Int.MaxValue))
    val collapsed = rows(Ivf.semanticDedupCollapsed(emb, tl,
      threshold = 0.4, maxCell = 8))
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(collapsed == uncapped,
      "collapsed dedup must equal the uncapped all-pairs dedup on a flood")
    assert(uncapped.map(_._1).size == 122, "every member must cluster")
    // and the plain capped feed at the same cap may legitimately differ
    // (sampling) — the collapse is what buys exactness, not the fixture
  }

  test("semanticDedupCollapsed: identity on all-distinct data; zero-norm " +
       "families PAIR like the all-pairs feed (NaN orders above every " +
       "number in both engines — the established contract)") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val cents = Ivf.Flat(Ivf.train(emb, 4, iters = 0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Boolean)].collect().toSet
    val a = rows(Ivf.semanticDedup(emb, cents, 0.4, maxCell = 64))
    val b = rows(Ivf.semanticDedupCollapsed(emb, cents, 0.4, maxCell = 64))
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(a == b, "collapse must be the identity on all-distinct data")

    // a family of identical ZERO vectors has self-cos NaN — and BOTH
    // engines order NaN above every number, so the established
    // cross-engine all-pairs semantics PAIRS NaN-cosine rows; the
    // collapsed feed must reproduce that behavior, not invent a
    // different one (pinned by equality with the uncapped face)
    val z = (Seq((1L, Array(0f, 0f, 0f)), (2L, Array(0f, 0f, 0f)),
        (3L, Array(0f, 0f, 0f))) ++
      (10 to 30).map(i => (i.toLong, Array(1f, 1e-7f * i, 0f))))
      .toDF("vec_id", "embedding")
    val zc = Ivf.Flat(Ivf.train(z, 2, iters = 0))
    val dz = rows(Ivf.semanticDedupCollapsed(z, zc, 0.4))
    val du = rows(Ivf.semanticDedup(z, zc, 0.4, maxCell = Int.MaxValue))
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(dz == du,
      s"collapsed must equal uncapped NaN semantics:\n$dz\nvs\n$du")
    assert(dz.map(_._1).size == 24, "NaN edges chain all 24 vectors in")
  }

  test("semanticDedup: the capped face still closes the NEARDUP graph on real data") {
    // the RankEventsSpecs closure contract re-stated against the capped
    // face at a cap SMALLER than some cells (sf0.001, 4 cells → ~125
    // members each, cap 16): every uncapped near-dup pair whose members
    // the capped CC clustered must land in ONE cluster — the cap may
    // drop members entirely (recall price, measured in BENCH_NOTES), but
    // must never SPLIT a surviving pair
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val cents = Ivf.Flat(Ivf.train(emb, 4, iters = 0))
    val truth = Ivf.semanticNearDup(emb, cents, 0.4)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect()
    val dd = Ivf.semanticDedup(emb, cents, 0.4, maxCell = 16)
      .as[(Long, Long, Boolean)].collect()
    graft.core.Materialize.releaseAll(spark, blocking = true)
    val cluster = dd.map(r => r._1 -> r._2).toMap
    val both = truth.filter { case (a, b) =>
      cluster.contains(a) && cluster.contains(b) }
    assert(both.nonEmpty, "fixture degenerate: no surviving pairs")
    both.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"capped CC split pair ($a,$b)")
    }
    // one keeper per cluster, the dedup contract
    dd.groupBy(_._2).foreach { case (cid, ms) =>
      assert(ms.count(_._3) == 1, s"cluster $cid keeper count != 1")
    }
  }

  // ---- fail-fast guard on the UNCAPPED diagnostic faces (r14 ask #3):
  // semanticNearDup's output IS the pair set (legitimately output-bound),
  // so instead of capping silently it must REFUSE a dup-flooded corpus
  // before emitting the quadratic pair set that OOM'd the ×729 control.

  // a flood of near-identical embeddings (jitter small enough that every
  // pairwise ROUNDED cosine is 1.0): ties break to the lowest cid, so all
  // m vectors route to ONE quantizer cell regardless of the structure
  private def floodEmb(m: Int) =
    (1 to m).map(i => (i.toLong, Array(1.0f, 1e-7f * i, 0.0f)))
      .toDF("vec_id", "embedding")

  test("neardup guard: a cell over maxCellGuard raises BEFORE pair emission, " +
       "naming the capped production path") {
    val ex = intercept[IllegalStateException] {
      val flood = floodEmb(40)
      Ivf.semanticNearDup(flood, Ivf.Flat(Ivf.train(flood, 4, iters = 0)),
        threshold = 0.4, maxCellGuard = 16).count()
    }
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(ex.getMessage.contains("semanticDedup"),
      s"guard must point at the capped path, got: ${ex.getMessage}")
    assert(ex.getMessage.contains("cellPairsCapped"),
      "guard must name the capped kernel")
    assert(ex.getMessage.contains("maxCellGuard"),
      "guard must name the explicit override")
  }

  test("neardup guard: two-level face raises the same way") {
    val ex = intercept[IllegalStateException] {
      val flood = floodEmb(40)
      Ivf.semanticNearDup(flood, Ivf.trainTwoLevel(flood, k1 = 2, k2 = 2),
        threshold = 0.4, maxCellGuard = 16).count()
    }
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(ex.getMessage.contains("semanticDedup"))
  }

  test("neardup guard: below the bound the face is untouched (pairs " +
       "bit-identical to an unguarded run)") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val cents = Ivf.Flat(Ivf.train(emb, 4, iters = 0))
    val guarded = Ivf.semanticNearDup(emb, cents, 0.4)
      .as[(Long, Long, Long, Double)].collect().toSet
    val unguarded = Ivf.semanticNearDup(emb, cents, 0.4,
        maxCellGuard = Int.MaxValue)
      .as[(Long, Long, Long, Double)].collect().toSet
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(guarded.nonEmpty && guarded == unguarded,
      "default guard must not change sub-bound output")
  }
}
