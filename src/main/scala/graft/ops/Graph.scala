package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph centrality over an edge frame — the curation signal a
  * k-NN graph feeds (density/importance weighting for diversity sampling,
  * hub detection before mutual-kNN pruning, influence-weighted dedup
  * keepers).
  *
  * PageRank here is FIXED-ITERATION and INTEGER-SCALED: ranks live in
  * units of 1e-9 (BIGINT), per-edge contributions are integer divisions
  * `pr div outdeg`, and the damping step is `(85 * s) div 100`. Every
  * intermediate is an exact 64-bit integer, so ANY engine — Spark at
  * 1000 executors or the single-node oracle — replays the result
  * bit-identically regardless of partitioning or summation order (the
  * embedding_covariance quantization argument applied to an iterative
  * kernel; float PageRank would drift per-partition in the 15th digit and
  * hash-mismatch). The ~1e-9 quantization error per iteration is far
  * below any ranking use of the score.
  *
  * Scale shape: each iteration is ONE shuffle — join ranks onto edges by
  * src (both sides partitioned by the join key; AQE broadcasts the rank
  * frame only if it is genuinely small) and re-aggregate by dst. The edge
  * frame and out-degrees are computed once and reused across iterations
  * ([[graft.core.Materialize.once]] cuts the common subtree so the edge
  * source is scanned once, not 3× per rank join). Dangling mass (nodes
  * with no out-edges) is dropped, not redistributed — totals sum < 1 but
  * ranking is unaffected; documented so the oracle replays the same
  * convention.
  */
object Graph {

  /** (node, pr) after `iters` damped iterations; `pr` is the rank in
    * units of 1e-9 as an exact BIGINT. Expects an edge frame with
    * columns (`src`, `dst`); multi-edges count multiply (a k-NN graph
    * emits each directed edge once).
    */
  def pageRank(edges0: DataFrame, iters: Int = 3): DataFrame = {
    // Sealed layout (r16, see Dedup.clusters): a plain cut loses its
    // partitioning (UnknownPartitioning under AQE), so every iteration
    // was re-exchanging the EDGE list by src. One edge-scale exchange at
    // build pins hashpartitioning(src, nParts) — byte-derived width from
    // the first cut's AQE-coalesced count — and the per-iteration rank
    // and out-degree joins become co-partitioned and exchange-free; the
    // declared within-partition ordering makes the per-iteration
    // sort-merge joins re-sort only the node-scale sides (rank,
    // out-degree), never the edge list, while degrading by spill — not
    // OOM — under skew (guide §3.1).
    val pre = graft.core.Materialize.cut(
      edges0.select(col("src").cast("long"), col("dst").cast("long")))
    val nParts = math.max(pre.rdd.getNumPartitions, 2)
    val edges = graft.core.Materialize.cutPartitioned(
      pre.repartition(nParts, col("src")).sortWithinPartitions("src"),
      Seq("src"), nParts, sortedBy = Seq("src"))
    // the sealed copy fully replaces the staging one — release it now
    graft.core.Materialize.releaseFrame(edges0.sparkSession, pre, edges, blocking = true)
    // nodes born in the (v, nParts) layout: dropDuplicates rides its own
    // repartition (guide §2.4), so the per-iteration left join back onto
    // the rank sums needs no exchange either
    val nodes = graft.core.Materialize.cutPartitioned(
      edges.select(col("src").as("v"))
        .union(edges.select(col("dst").as("v")))
        .repartition(nParts, col("v"))
        .dropDuplicates("v"),
      Seq("v"), nParts)
    // out-degrees ride the sealed edge layout (no exchange) and are cut
    // once so iterations read node-scale blocks instead of re-aggregating
    // the edge list per iteration
    val outd = graft.core.Materialize.oncePartitioned(
      edges.groupBy(col("src")).agg(count(lit(1)).as("d")),
      Seq("src"), nParts)
    val nn = nodes.agg(count(lit(1)).as("n"))

    // pr0 = floor(1e9 / N); base = floor(0.15e9 / N)
    var pr = nodes.crossJoin(broadcast(nn))
      .select(col("v"), expr("1000000000L div n").as("pr"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(pr.withColumnRenamed("v", "src"), Seq("src"))
        .join(outd, Seq("src"))
        .select(col("dst").as("v"), expr("pr div d").as("c"))
      val s = contrib.repartition(nParts, col("v"))
        .groupBy(col("v")).agg(sum(col("c")).as("s"))
      pr = nodes.crossJoin(broadcast(nn))
        .join(s, Seq("v"), "left")
        .select(col("v"),
          (expr("150000000L div n") +
            expr("(85L * coalesce(s, 0L)) div 100L")).as("pr"))
    }
    pr
  }

  /** Degree-ordered TRIANGLE COUNTING + local clustering coefficients over
    * an undirected view of the edge frame — the transitivity audit a k-NN
    * graph feeds (a community candidate with near-zero clustering is hub
    * chaining, not semantic cohesion; clustering coefficients are the
    * standard screen before trusting LPA/CC output).
    *
    * The kernel is the classic scalable shape (Schank–Wagner / Cohen's
    * MapReduce form): orient every undirected edge from its lower
    * (degree, id) endpoint to the higher, enumerate wedges only at each
    * edge's SOURCE, and close each wedge against the canonical edge set.
    * Every triangle is counted exactly once (at its lowest-ordered apex),
    * and — the scale argument — oriented out-degree is bounded by O(√m)
    * on any graph (and by k here), so wedge fan-out never explodes on
    * hubs the way naive neighbor-pair enumeration does. All joins are
    * equi-joins; the undirected edge set and degree table are cut once
    * and reused by orientation, closure, and the final report.
    */
  def triangles(edges0: DataFrame): DataFrame = {
    val und = graft.core.Materialize.once {
      val e = edges0.select(col("src").cast("long"), col("dst").cast("long"))
        .where(col("src") =!= col("dst"))
      e.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
    }
    val deg = graft.core.Materialize.once(
      und.select(col("u").as("x")).union(und.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("deg")))
    // canonical (u < v) edges flip only when v ranks strictly lower by
    // degree; degree ties keep id order (u < v already)
    val oriented = und
      .join(deg.select(col("x").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("dv") < col("du"), col("v")).otherwise(col("u")).as("a"),
        when(col("dv") < col("du"), col("u")).otherwise(col("v")).as("b"))
    val w1 = oriented.select(col("a"), col("b").as("b1"))
    val w2 = oriented.select(col("a"), col("b").as("b2"))
    // b1 < b2 both dedups the wedge pair AND matches und's (u < v) form
    val tri = w1.join(w2, Seq("a")).where(col("b1") < col("b2"))
      .select(col("a"), col("b1").as("u"), col("b2").as("v"))
      .join(und, Seq("u", "v"), "left_semi")
    val perNode = tri
      .select(explode(array(col("a"), col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("x"), "left")
      .select(col("x").as("vec_id"), col("deg").as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"))
      .withColumn("clust_coeff",
        round(lit(2.0) * col("triangles").cast("double") /
          when(col("degree") > 1,
            (col("degree") * (col("degree") - 1)).cast("double")), 6))
  }

  /** Synchronous LABEL PROPAGATION communities over an undirected view of
    * the edge frame — the near-linear community detector (Raghavan 2007)
    * that needs no target cluster count, complementing connected
    * components (which over-merges through any single bridge edge) and
    * mutual-kNN (which needs reciprocity). FULLY DETERMINISTIC, unlike
    * textbook LPA: updates are synchronous (no visit order), and each
    * node adopts the most frequent neighbor label with ties broken by
    * MINIMUM label — an integer argmax via `max(struct(cnt, -label))`,
    * independent of partitioning and engine. Fixed `iters` rounds (the
    * pageRank convention; LPA on community-structured graphs stabilizes
    * in a handful).
    *
    * Scale shape: edges symmetrize once behind a cut (source scanned
    * once, reused every round); each round is the (node,label)-count
    * aggregation plus the per-node argmax — two map-side-combined
    * shuffles over edge-scale, never more; isolated nodes keep their own
    * label via the left join.
    */
  def labelPropagation(edges0: DataFrame, iters: Int = 5): DataFrame = {
    // Phase 1 — AQE-sized symmetrized dedup (repartition(src) first, the
    // dedup rides it — guide §2.4); the byte-derived partition count it
    // materializes at becomes the loop's layout constant, so the loop
    // width scales with edge bytes, never a config constant.
    val pre = graft.core.Materialize.cut {
      val e = edges0.select(col("src").cast("long"), col("dst").cast("long"))
        .where(col("src") =!= col("dst"))
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src"))
        .dropDuplicates("src", "dst")
    }
    val nParts = math.max(pre.rdd.getNumPartitions, 2)
    // Phase 2 — seal the round layout (see Dedup.clusters r16 note: a
    // plain cut reads UnknownPartitioning under AQE, so every round was
    // re-exchanging the edge list). One extra edge-scale exchange pins
    // hashpartitioning(src, nParts), re-declared on the cut frame; the
    // per-round label join is then co-partitioned and exchange-free.
    val sym = graft.core.Materialize.cutPartitioned(
      pre.repartition(nParts, col("src")).sortWithinPartitions("src"),
      Seq("src"), nParts, sortedBy = Seq("src"))
    // the sealed copy fully replaces the staging one — release it now or
    // the kernel holds TWO edge-scale block sets for the whole query
    graft.core.Materialize.releaseFrame(edges0.sparkSession, pre, sym, blocking = true)
    var labels = sym.select(col("src").as("v"), col("src").as("label")).distinct()
    for (_ <- 1 to iters) {
      // symmetry means every node of sym appears as a dst, so the votes
      // frame IS the next label frame — no join-back onto the previous
      // labels (isolated nodes never enter sym at all and stay out of
      // the result by the same contract as before).
      // The join is co-partitioned (no exchange) and the edge side's
      // declared ordering rides the cut, so the per-round sort-merge
      // sorts only the node-scale label side — and spills rather than
      // OOMs under skew (a hinted shuffled-hash build has no fallback;
      // guide §3.1). One repartition(dst) feeds BOTH aggregates
      // (dst ⊆ {dst,label}) and the round output is BORN in the
      // (v, nParts) layout the next round's join consumes — one exchange
      // per round instead of three. The (dst,label) aggregate's map-side
      // combine is forfeited: on a cell-capped kNN graph a partition
      // holds few duplicate (dst,label) votes, so the combine saved
      // ~nothing while its exchange cost a full extra candidate pass.
      labels = graft.core.Materialize.oncePartitioned(sym
        .join(labels.withColumnRenamed("v", "src"), Seq("src"))
        .repartition(nParts, col("dst"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
        .select(col("dst").as("v"), (-col("m.neg")).as("label")),
        Seq("v"), nParts)
      // cut each round: the plan would otherwise nest `iters` joins deep
      // and re-run every prior round per action (the pageRank lesson)
    }
    labels
  }

  /** DEGREE ASSORTATIVITY over the undirected view of the edge frame —
    * Newman's r: the Pearson correlation of endpoint degrees across
    * edges (+1 hubs link hubs, −1 hubs link leaves). The one-number
    * screen for whether a k-NN graph's communities are degree-stratified
    * (assortative: dense cores LPA will find) or hub-and-spoke
    * (disassortative: chaining that needs mutual-kNN pruning first) —
    * the companion diagnostic to triangles' clustering coefficients.
    *
    * Each undirected edge contributes BOTH orderings (du,dv) and (dv,du)
    * (the standard symmetrization), folded algebraically: Σx = Σ(du+dv),
    * Σxx = Σ(du²+dv²), Σxy = 2Σdu·dv over single edge rows — no union,
    * one aggregation. Degrees are exact BIGINT counts and all co-moment
    * sums exact integers (any engine, any partitioning); only the final
    * closed form r = (2m·Σxy − Σx²)/(2m·Σxx − Σx²) runs in doubles of
    * those exact integers, rounded at emission, null-guarded for
    * degree-regular graphs (denominator 0).
    *
    * Scale shape: the undirected edge set and the degree table are cut
    * once; the edge→degree joins are equi-joins on node keys (AQE
    * broadcasts the degree side when it is genuinely small); the closing
    * aggregation is one map-side-combined pass to a single row.
    */
  def assortativity(edges0: DataFrame): DataFrame = {
    val und = graft.core.Materialize.once {
      val e = edges0.select(col("src").cast("long"), col("dst").cast("long"))
        .where(col("src") =!= col("dst"))
      e.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
    }
    val deg = graft.core.Materialize.once(
      und.select(col("u").as("x")).union(und.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d")))
    val agg = und
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .agg(
        count(lit(1)).as("m"),
        sum(col("du") + col("dv")).as("sx"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"),
        sum(lit(2L) * col("du") * col("dv")).as("sxy"))
    agg.select(col("m").as("m_edges"),
      round((lit(2.0) * col("m").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) /
        when(lit(2.0) * col("m").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") =!= 0.0,
          lit(2.0) * col("m").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6)
        .as("assortativity"))
  }

  /** K-CORE decomposition membership: the maximal subgraph in which every
    * node keeps degree ≥ k, by the classic iterative peel — drop all
    * nodes below k, recompute degrees, repeat to the fixed point. The
    * density screen above components/LPA: a k-NN "community" that
    * dissolves at k=3 was hub chaining; its k-core survivors are the
    * defensible dense region (and the standard seed set for curation
    * sampling). Returns the surviving nodes with their in-core degree.
    *
    * Scale shape: each round is one degree aggregation + two left-semi
    * equi-joins over the shrinking edge set, CUT per round so round t+1
    * reads a materialized frame instead of a t-deep join tree (the
    * labelPropagation lesson); one count() action per round drives the
    * fixed-point test (one job per round — the corpus_dedup
    * pointer-jumping convention, never per-row driver work). Converges
    * in ≤ maxIters rounds or stops early at the fixed point; peeling
    * monotonically shrinks, so a capped run is a sound OVER-approximation
    * (documented; 20 rounds peels any real k-NN graph to fixpoint).
    */
  def kCore(edges0: DataFrame, k: Int, maxIters: Int = 20): DataFrame = {
    require(k >= 1 && maxIters >= 1, "k >= 1 and maxIters >= 1")
    var und = graft.core.Materialize.cut {
      val e = edges0.select(col("src").cast("long"), col("dst").cast("long"))
        .where(col("src") =!= col("dst"))
      e.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
    }
    var m = und.count()
    var done = m == 0L
    var it = 0
    while (!done && it < maxIters) {
      val keep = und.select(col("u").as("x")).union(und.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select(col("x"))
      val pruned = graft.core.Materialize.cut(
        und.join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("x").as("v")), Seq("v"), "left_semi"))
      val m2 = pruned.count()
      // unchanged edge count == no node below k was dropped == fixed point
      done = m2 == m || m2 == 0L
      m = m2; und = pruned; it += 1
    }
    und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }
}
