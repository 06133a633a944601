package graft

/** Plan-shape regression guard: scale properties asserted on the actual
  * executed plans, so a refactor can't silently un-push a filter, drop a
  * broadcast, or add a shuffle. (The human-readable audit lives in
  * BENCH_NOTES.md; this keeps it true.)
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.query(name).build(spark, Sf0001)
    df.count() // finalize under AQE
    df.queryExecution.executedPlan.toString
  }

  private def countOccurrences(s: String, token: String): Int =
    s.sliding(token.length).count(_ == token)

  test("candle resample is a single-shuffle hash aggregation") {
    val p = planOf("ohlcv_1m")
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(p.contains("partial_min_by"), "map-side partial aggregation expected")
    assert(!p.contains("SortAggregate"), "hash aggregation expected")
  }

  test("q1/q6 filters reach the parquet scan") {
    val p1 = planOf("q1_pricing")
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual"), p1)
    // (the plan string truncates long pushed-filter lists, so assert on
    // the stable prefix)
    val p6 = planOf("q6_selective")
    assert(p6.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)"), p6)
  }

  test("q5 dim chain is broadcast, never shuffled") {
    val p = planOf("q5_region")
    assert(countOccurrences(p, "BroadcastHashJoin") >= 4, p)
    // only the final aggregation may shuffle
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 1, p)
  }

  test("scans are column-pruned") {
    val p = planOf("ann_topk")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), p)
    val t = planOf("token_count")
    assert(t.contains("ReadSchema: struct<doc_id:bigint,text:string>"), t)
  }

  test("dedup signature stage is map-only and materialized exactly once") {
    // the signature pass itself is pure map: zero exchanges, fused
    // native expression straight over the parquet scan
    val sp = graft.ops.Dedup.minhashSignatures(
      graft.core.Tables.table(spark, Sf0001, "documents"))
      .queryExecution.executedPlan.toString
    assert(!sp.contains("Exchange"), "signature pass must not shuffle\n" + sp)
    assert(sp.toLowerCase.contains("minhash"),
      "native signature expression expected in plan\n" + sp)
    // every consumer branch reads the ONE materialized signature RDD —
    // the corpus text scan must not appear in the downstream plan at all
    val p = planOf("dedup_minhash")
    assert(p.contains("Scan ExistingRDD"),
      "materialized signature RDD expected in plan\n" + p)
    assert(!p.contains("FileScan"),
      "corpus must not be re-scanned past the signature cut\n" + p)
  }

  test("containment pairs read the one materialized signature scan") {
    val p = planOf("containment_pairs")
    assert(p.contains("Scan ExistingRDD"),
      "materialized signature+shingle RDD expected in plan\n" + p)
    assert(!p.contains("FileScan"),
      "corpus must not be re-scanned past the signature cut\n" + p)
  }

  test("contamination/anomaly stats broadcast and their base scans materialize once") {
    // benchmark shingle set and per-symbol moments are dim-scale: both
    // queries must broadcast them, and their shared base frame (shingle
    // scan / candle resample) must come from ONE materialized RDD — no
    // FileScan may survive past the cut
    // bigram_surprisal: the exploded bigram frame is the single corpus
    // read; counts and both scoring joins derive from it
    val pb = planOf("bigram_surprisal")
    assert(pb.contains("Scan ExistingRDD") && !pb.contains("FileScan"),
      "bigram frame must materialize once\n" + pb)
    for (name <- Seq("contamination_check", "volume_anomaly")) {
      val p = planOf(name)
      assert(p.contains("BroadcastHashJoin"), s"$name must broadcast\n" + p)
      assert(p.contains("Scan ExistingRDD"),
        s"$name must read the materialized base frame\n" + p)
      assert(!p.contains("FileScan"),
        s"$name must not re-scan its input past the cut\n" + p)
    }
  }

  test("asof join plans as the native physical operator") {
    val p = planOf("asof_join")
    assert(p.contains("AsofJoin"), p)
    // EnsureRequirements co-partitions the two sides: one exchange each,
    // nothing else
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("left-outer asof join plans as the same native operator") {
    val p = planOf("asof_join_left")
    assert(p.contains("AsofJoin"), p)
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("multi-key asof join keeps the native ≤2-exchange tuple-clustered shape") {
    val p = planOf("asof_join_multikey")
    assert(p.contains("AsofJoin"), p)
    // composite key still means ONE exchange per side, clustering on the
    // whole (user_id, day) tuple — never a per-key-column exchange chain
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("semantic near-dup reads ONE materialized argmax frame for both join sides") {
    val p = planOf("semantic_neardup")
    assert(!p.contains("FileScan"),
      "both pair sides must read the materialized cell frame, not re-scan embeddings\n" + p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semantic dedup derives pairs AND keeper scores from the one cell frame") {
    val p = planOf("semantic_dedup")
    // pair sides, CC labels, and the centroid-cosine keeper join must all
    // come off materialized frames — the corpus is assigned exactly once
    assert(!p.contains("FileScan"),
      "no branch may re-scan embeddings past the materialized assign\n" + p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("split family: map-only split, broadcast prune threshold, window-free budget") {
    // corpus_split: one projection over the scan — no exchange at all
    val ps = planOf("corpus_split")
    assert(!ps.contains("Exchange"), "corpus_split must be map-only\n" + ps)
    // quality_prune: the dim-scale per-lang threshold joins back as a
    // broadcast, never a shuffle of the corpus side
    val pq = planOf("quality_prune")
    assert(pq.contains("BroadcastHashJoin"), pq)
    assert(!pq.contains("SortMergeJoin"), "threshold join must broadcast\n" + pq)
    // budget_sample: the running total rides the two-pass scan
    val pb = planOf("budget_sample")
    assert(!pb.contains("Window"), "budget_sample must not plan a window\n" + pb)
  }

  test("semantic sample plans the bounded heap aggregate, no window") {
    val p = planOf("semantic_sample")
    assert(!p.contains("Window"), "per-cell pick must be the TopKByScore aggregate\n" + p)
  }

  test("indicator family: partitioned windows only, adx one symbol exchange") {
    // williams_r/cci/mfi: per-symbol windows (bounded partitions),
    // never an unpartitioned global window
    Seq("williams_r", "cci", "mfi", "anchored_vwap").foreach { q =>
      val p = planOf(q)
      // every window spec in these plans must lead with the symbol
      // partition column — a global window prints windowspecdefinition(
      // <order cols...>) with no partition prefix
      val unpartitioned = raw"windowspecdefinition\((?!symbol#)".r
      assert(unpartitioned.findFirstIn(p).isEmpty,
        s"$q must not plan an unpartitioned window\n" + p)
      assert(!p.contains("CartesianProduct"), p)
    }
    // adx: the sequential sweep shuffles ONCE on symbol; no window at all
    val pa = planOf("adx")
    assert(!pa.contains("Window"), "adx is the sequential sweep, not a window\n" + pa)
  }

  test("q7/q8/q10 broadcast every dim chain; q10's returnflag reaches the scan") {
    val p7 = planOf("q7_nation_trade")
    // one fact-fact shuffle join; both nation chains broadcast
    assert(countOccurrences(p7, "BroadcastHashJoin") >= 4, p7)
    assert(!p7.contains("CartesianProduct"), p7)
    val p8 = planOf("q8_market_share")
    assert(countOccurrences(p8, "BroadcastHashJoin") >= 5, p8)
    val p10 = planOf("q10_returned")
    assert(p10.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"),
      "returnflag filter must reach the parquet scan\n" + p10)
    assert(countOccurrences(p10, "BroadcastHashJoin") >= 2, p10)
  }

  test("ivf-pq encode reads ONE materialized assign+residual scan") {
    // seeds, the Lloyd round, and the code/recon pass all derive from the
    // materialized residual frame — the corpus parquet must not be
    // re-scanned downstream of the cut
    val pe = planOf("ivfpq_encode")
    assert(pe.contains("Scan ExistingRDD"),
      "materialized assign+residual RDD expected in plan\n" + pe)
    assert(countOccurrences(pe, "FileScan") == 0,
      "corpus must not be re-scanned past the residual cut\n" + pe)
    // search: the compressed-corpus side reads the cut; the only FileScan
    // allowed is the query frame itself (vec_id < 10 probe side)
    val ps = planOf("ann_ivfpq")
    assert(ps.contains("Scan ExistingRDD"), ps)
    assert(countOccurrences(ps, "FileScan") <= 1,
      "corpus side must read the materialized encode, not re-scan\n" + ps)
  }

  test("q2 decorrelation: broadcast dims, partkey-partitioned window, no cartesian") {
    val p = planOf("q2_min_cost")
    // supplier->nation->region and part chains broadcast; the correlated
    // min decorrelates to ONE partkey-partitioned window — never a
    // cartesian or a second fact shuffle from an agg join-back
    assert(countOccurrences(p, "BroadcastHashJoin") >= 3, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val unpartitioned = raw"windowspecdefinition\((?!l_partkey#)".r
    assert(unpartitioned.findFirstIn(p).isEmpty,
      "q2 window must partition by l_partkey\n" + p)
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 1,
      "one fact shuffle only\n" + p)
  }

  test("q13 outer count distribution: orders pre-aggregate below the join") {
    val p = planOf("q13_order_dist")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the orders aggregation must sit BELOW the outer join (skinny one-
    // row-per-custkey build side, never a raw-fact join) — i.e. at least
    // one HashAggregate appears before the first join operator in the
    // bottom-up plan string (plans print top-down: the join line appears
    // before its child aggregate, so assert the aggregate exists and the
    // join key is the custkey, not the orderkey)
    assert(p.contains("LeftOuter"), "outer join must survive planning\n" + p)
    assert(p.linesIterator.exists(l => l.contains("Join") && l.contains("c_custkey")), p)
  }

  test("q4 exists decorrelates to a semi join; q18 aggregates below its joins") {
    val p4 = planOf("q4_order_priority")
    assert(p4.contains("LeftSemi"), "EXISTS must plan as a semi join\n" + p4)
    assert(!p4.contains("CartesianProduct") && !p4.contains("BroadcastNestedLoopJoin"), p4)
    val p18 = planOf("q18_large_orders")
    // the HAVING aggregation runs on lineitem BEFORE any join (selective
    // build side), and the customer dim broadcasts
    assert(p18.contains("BroadcastHashJoin"), p18)
    assert(!p18.contains("CartesianProduct"), p18)
    assert(p18.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("l_orderkey")), p18)
  }

  test("q17 correlated avg is a partkey window; q22 anti-joins pushed-filter orders") {
    val p17 = planOf("q17_small_quantity")
    val unpartitioned = raw"windowspecdefinition\((?!l_partkey#)".r
    assert(unpartitioned.findFirstIn(p17).isEmpty,
      "q17 window must partition by l_partkey\n" + p17)
    assert(p17.contains("BroadcastHashJoin"), p17)
    assert(!p17.contains("CartesianProduct"), p17)
    val p22 = planOf("q22_dormant_value")
    assert(p22.contains("LeftAnti"), "NOT EXISTS must plan as an anti join\n" + p22)
    // the dormancy cutoff must reach the orders parquet scan
    assert(p22.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      "date filter must push to the orders scan\n" + p22)
    // (the 1-row avg broadcast legitimately plans as a broadcast nested
    // loop — the engine's documented scalar-crossJoin pattern; only a
    // true cartesian is forbidden)
    assert(!p22.contains("CartesianProduct"), p22)
  }

  test("semantic incremental broadcasts the screen set, heap-samples without a window") {
    val p = planOf("semantic_incremental")
    // the <= numCells*maxCell screen set must broadcast to the batch side
    assert(p.contains("BroadcastHashJoin"), "screen set must broadcast\n" + p)
    // per-cell sampling is the bounded TopKByScore heap, never a window
    // over a giant cell partition
    assert(!p.contains("Window"), "screen sampling must be the bounded heap\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("exact pair search is equi-join blocked, never a nested-loop join") {
    val p = planOf("embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("interval join plans as an equi hash join with residual, not a nested loop") {
    val p = planOf("funnel_1h")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("substring dedup reads its span frame from the cut, not a re-scan") {
    val p = planOf("dedup_substring")
    // the span explode feeds both the count and probe branches from ONE
    // materialized frame: exactly one documents FileScan in the plan
    assert(p.contains("Scan ExistingRDD"), p)
    assert(countOccurrences(p, "FileScan") == 0, p)
  }

  test("incremental dedup never rescans either corpus side past the cuts") {
    val p = planOf("dedup_incremental")
    // both signature frames materialize once; banding/stats/scoring all
    // read the cuts. The only FileScan is the final left-join base
    // (newDocs doc_ids — a column-pruned scan, not a re-signature).
    assert(p.contains("Scan ExistingRDD"), p)
    assert(countOccurrences(p, "FileScan") <= 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("mtf daily context and volume-profile bounds join as broadcasts") {
    // both enrichment joins carry a dim-scale right side (per-day / per-
    // symbol aggregates) — they must broadcast, never shuffle the facts
    val pm = planOf("mtf_context")
    assert(pm.contains("BroadcastHashJoin"), pm)
    val pv = planOf("volume_profile")
    assert(pv.contains("BroadcastHashJoin"), pv)
    assert(!pv.contains("SortMergeJoin"), pv)
  }

  test("3-stage funnel chains hash joins with interval residuals, no nested loops") {
    val p = planOf("funnel_3stage")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pair correlation joins on the blocked key, not bucket_ts alone") {
    // the join keys must carry blk (whether the planner picks a shuffle or
    // a broadcast at this scale): that is what spreads each time bucket's
    // pair fan-out across B reducer keys on a real symbol universe
    val p = planOf("symbol_correlations")
    assert(p.linesIterator.exists(l => l.contains("Join") && l.contains("blk")), p)
  }

  test("tfidf per-doc ranking is the bounded aggregate, not a window") {
    val p = planOf("tfidf_topterms")
    assert(!p.contains("Window"), "per-doc row_number window regressed\n" + p)
    assert(p.toLowerCase.contains("topktermsbyscore"), p)
  }

  test("q21 plans skinny semi/anti self-joins; q15 scans the fact exactly once") {
    val p21 = planOf("q21_waiting_suppliers")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      "EXISTS/NOT EXISTS must plan as semi + anti joins\n" + p21)
    assert(!p21.contains("CartesianProduct") && !p21.contains("BroadcastNestedLoopJoin"), p21)
    // the orders status filter must NOT be a forced broadcast of a
    // fact-scale slice: either AQE chose a (safe, size-checked)
    // broadcast or it shuffled — but never via an explicit hint; assert
    // the filter itself was pushed to the orders scan
    assert(p21.contains("EqualTo(o_orderstatus,F)") ||
      p21.contains("o_orderstatus"), p21)
    // q15's single-fact-pass claim: the revenue view feeds both the
    // equality probe and the max. ReuseExchange does NOT dedupe them
    // (the probe branch's pushed isnotnull de-canonicalizes its
    // subtree), so the view is cut via Materialize.once — the fact
    // parquet must appear in the plan at most once (zero when AQE
    // reports only the post-checkpoint plan)
    val p15 = planOf("q15_top_supplier")
    assert(countOccurrences(p15, "lineitem.parquet") <= 1,
      "q15's revenue view lost its cut — lineitem scanned twice\n" + p15)
  }

  test("q14/q19/q12/q9: pushed ranges, disjunctive residual stays a hash join, broadcast dims") {
    val p14 = planOf("q14_promo_share")
    assert(p14.contains("GreaterThanOrEqual(l_shipdate") &&
      p14.contains("LessThan(l_shipdate"),
      "q14's ship-month range must reach the parquet scan\n" + p14)
    assert(p14.contains("BroadcastHashJoin"), p14)
    val p19 = planOf("q19_disjunctive")
    assert(p19.contains("BroadcastHashJoin"),
      "q19 must plan the shared equi-key as a hash join\n" + p19)
    assert(!p19.contains("BroadcastNestedLoopJoin") && !p19.contains("CartesianProduct"), p19)
    assert(p19.contains("GreaterThanOrEqual(l_quantity") &&
      p19.contains("LessThanOrEqual(l_quantity"),
      "q19's hoisted quantity bound must reach the scan\n" + p19)
    val p12 = planOf("q12_late_lines")
    assert(!p12.contains("CartesianProduct") && !p12.contains("BroadcastNestedLoopJoin"), p12)
    val p9 = planOf("q9_profit")
    assert(countOccurrences(p9, "BroadcastHashJoin") >= 2,
      "q9's part and supplier-nation dims must broadcast\n" + p9)
    assert(!p9.contains("CartesianProduct") && !p9.contains("BroadcastNestedLoopJoin"), p9)
    // q16: the NOT-IN offender set must broadcast into a LEFT ANTI (the
    // fact never shuffles for the exclusion); q20's per-part total is a
    // partkey-partitioned window (no unpartitioned window, no cartesian)
    val p16 = planOf("q16_supplier_parts")
    assert(p16.contains("LeftAnti") && p16.contains("BroadcastHashJoin"), p16)
    assert(!p16.contains("CartesianProduct") && !p16.contains("BroadcastNestedLoopJoin"), p16)
    val p20 = planOf("q20_dominant_suppliers")
    val unpart20 = raw"windowspecdefinition\((?!l_partkey#)".r
    assert(unpart20.findFirstIn(p20).isEmpty,
      "q20's total must ride a partkey-partitioned window\n" + p20)
    assert(!p20.contains("CartesianProduct") && !p20.contains("BroadcastNestedLoopJoin"), p20)
  }

  test("filtered ANN pushes the predicate into the corpus parquet scan") {
    // the central scale claim of ann_filtered: non-matching vectors never
    // materialize — the label predicate must reach PushedFilters on the
    // embeddings scan (both the probe branch and the rescue re-scan)
    val p = planOf("ann_filtered")
    assert(p.contains("EqualTo(label,7)"),
      "label predicate must be pushed to the embeddings scan\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q11 scans the fact once; bloom screen joins only candidates; shuffle-free corpus shuffle") {
    // q11: the per-part view feeds both the probe and the scalar total —
    // the Materialize cut must leave exactly ONE lineitem scan (q15's
    // ReuseExchange lesson); the only nested loop is the 1-row total
    // (≤1 like q15: the cut job scans the fact; the reported plan reads
    // the checkpointed RDD, so the fact appears at most once — twice
    // would mean the cut was lost)
    val p11 = planOf("q11_value_concentration")
    assert(countOccurrences(p11, "lineitem.parquet") <= 1,
      "q11's per-part view lost its cut — lineitem scanned twice\n" + p11)
    assert(countOccurrences(p11, "BroadcastNestedLoopJoin") <= 1, p11)
    // dedup_bloom: the verify side is an equi hash join on the hash —
    // never a nested loop; no window anywhere
    val pb = planOf("dedup_bloom")
    assert(pb.contains("BroadcastHashJoin") || pb.contains("SortMergeJoin"), pb)
    assert(!pb.contains("BroadcastNestedLoopJoin") && !pb.contains("CartesianProduct"), pb)
    // corpus_shuffle: the global rank is the two-pass scan — NO window,
    // no single-partition exchange in the executed plan
    val ps = planOf("corpus_shuffle")
    assert(!ps.contains("Window"), "global row_number window regressed\n" + ps)
    assert(!ps.contains("SinglePartition"), ps)
    // knn_graph: bounded heap selection, never a per-vector window
    val pk = planOf("knn_graph")
    assert(pk.toLowerCase.contains("topkbyscore"), pk)
    assert(!pk.contains("Window"), pk)
    // knn_graph_2level: selection stays the bounded heap, never a
    // per-vector window, and the candidate join is the cell equi-join
    // over the ONE materialized assignment cut (both fused argmax levels
    // live BEHIND that cut — the final plan reads the checkpointed RDD,
    // so like knn_graph's audit this pins the post-cut shape)
    val p2 = planOf("knn_graph_2level")
    assert(p2.toLowerCase.contains("topkbyscore"), p2)
    assert(!p2.contains("Window"), p2)
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"), p2)
  }

  test("ann top-k paths aggregate map-side instead of windowing the scored set") {
    val pTop = planOf("ann_topk")
    assert(!pTop.contains("Window"), "full-scored-set window top-k regressed\n" + pTop)
    assert(pTop.toLowerCase.contains("topkbyscore"), pTop)
    val pLsh = planOf("ann_lsh")
    assert(!pLsh.contains("Window"), pLsh)
    // ivf: assignment is the fused map-side argmax (no crossJoin+window over
    // the corpus); the only Window ranks nprobe cells per query — |q|×cells
    val pIvf = planOf("ann_ivf")
    assert(pIvf.toLowerCase.contains("nearestcell"), pIvf)
    assert(countOccurrences(pIvf, "Window [row_number") <= 1, pIvf)
  }

  test("lm scoring plans equi joins only; pagerank reads cuts; bm25 TakeOrdereds") {
    // lm_perplexity: every model lookup is an equi join (hash or
    // sort-merge) — the only nested-loop is the 1-row V scalar; per-doc
    // reduction aggregates with a partial (map-side) phase
    val pl = planOf("lm_perplexity")
    assert(countOccurrences(pl, "BroadcastNestedLoopJoin") <= 1, pl)
    assert(!pl.contains("CartesianProduct"), pl)
    assert(pl.contains("partial_count") || pl.contains("partial count"), pl)
    // knn_pagerank: edges + nodes come from the Materialize cuts — the
    // embeddings file must not be re-scanned per iteration (3 iterations
    // × 2 frames would otherwise mean 6+ corpus scans)
    val pp = planOf("knn_pagerank")
    assert(!pp.contains("FileScan"),
      "pagerank must iterate over the materialized edge/node cuts\n" + pp)
    // ann_sq8: scoring is the bounded heap, never a window; the corpus
    // scan is column-pruned to (vec_id, embedding)
    val ps = planOf("ann_sq8")
    assert(!ps.contains("Window"), ps)
    assert(ps.toLowerCase.contains("topkbyscore"), ps)
    // bm25: final ranking is TakeOrdered (per-partition heaps), not a
    // global sort exchange; postings join broadcasts the query terms
    val pb = planOf("bm25_search")
    assert(pb.contains("TakeOrderedAndProject"), pb)
    assert(pb.contains("BroadcastHashJoin"), pb)
  }

  test("r10 market/pipeline ops keep their scale shapes") {
    // tick_rule: the bucket aggregation REUSES the window's symbol
    // partitioning (bucket keys are a superset of the partitioning) —
    // exactly one exchange end to end
    val pt = planOf("tick_rule")
    assert(countOccurrences(pt, "Exchange hashpartitioning") == 1, pt)
    // holt: exactly the candle build's (symbol, bucket) exchange plus ONE
    // symbol repartition feeding the sequential sweep; no window operator
    val ph = planOf("holt_forecast")
    assert(countOccurrences(ph, "Exchange hashpartitioning") == 2, ph)
    assert(!ph.contains("Window"), ph)
    // bigram_pmi: vocabulary joins are equi joins; the only nested-loop
    // is the 1-row totals crossJoin; text scan pruned to the text column
    val pp = planOf("bigram_pmi")
    assert(!pp.contains("CartesianProduct"), pp)
    assert(countOccurrences(pp, "BroadcastNestedLoopJoin") <= 1, pp)
    assert(pp.contains("ReadSchema: struct<text:string>"), pp)
    // attribution_linear: the interval pairing is a hash/sort-merge equi
    // join with the window as residual — never a nested loop
    val pa = planOf("attribution_linear")
    assert(!pa.contains("BroadcastNestedLoopJoin") &&
      !pa.contains("CartesianProduct"), pa)
    // seasonal_decompose: the candle+window base is CUT once and both
    // branches read the cut (no FileScan in the final plan — the corpus
    // is scanned exactly once, at cut creation); the seasonal table
    // joins back via broadcast
    val ps = planOf("seasonal_decompose")
    assert(ps.contains("BroadcastHashJoin"), ps)
    assert(!ps.contains("FileScan"),
      "both branches must read the materialized base cut\n" + ps)
    // roll_spread: the candle build's exchange + ONE symbol window
    // exchange; both lag windows fold into one Window node and the
    // co-moment aggregation map-side combines on the window partitioning
    val pr = planOf("roll_spread")
    assert(countOccurrences(pr, "Exchange hashpartitioning") == 2, pr)
    assert(pr.contains("partial_count") || pr.contains("partial count"), pr)
  }

  test("r10 wave-4 studies keep their scale shapes") {
    // kyle_lambda: ONE trade scan, ONE exchange end-to-end — the tick
    // window's symbol partitioning is reused by the bucket aggregation
    // AND the final co-moment aggregation (both key supersets/subsets
    // partial-aggregate in place)
    val pk = planOf("kyle_lambda")
    assert(countOccurrences(pk, "Exchange hashpartitioning") == 1, pk)
    assert(countOccurrences(pk, "FileScan") == 1, pk)
    // event_study: the indexed candle base is CUT once (no FileScan past
    // the cut); events explode dim-scale and BROADCAST into the index
    // equi-join — no sort-merge, no nested loop on the fact path
    val pe = planOf("event_study")
    assert(!pe.contains("FileScan"),
      "all branches must read the materialized candle cut\n" + pe)
    assert(countOccurrences(pe, "BroadcastHashJoin") >= 3, pe)
    assert(!pe.contains("SortMergeJoin") && !pe.contains("CartesianProduct"), pe)
    assert(pe.contains("Generate explode"), pe)
    // variance_ratio / aroon: one candle-build exchange + one symbol
    // window exchange; all lag/max columns fold into window passes over
    // the SAME partitioning, and the VR aggregation map-side combines
    Seq("variance_ratio", "aroon").foreach { q =>
      val p = planOf(q)
      assert(countOccurrences(p, "Exchange hashpartitioning") == 2, s"$q\n$p")
    }
    // realized_jump: lag partitions by (symbol, day) — still one window
    // exchange over the candle build, aggregation reuses it
    val pj = planOf("realized_jump")
    assert(countOccurrences(pj, "Exchange hashpartitioning") == 2, pj)
    // lexical_diversity: PURE MAP — no shuffle of any kind, text column
    // pruned at the scan
    val pl = planOf("lexical_diversity")
    assert(!pl.contains("Exchange"), "map-only operator must not shuffle\n" + pl)
    assert(pl.contains("ReadSchema: struct<doc_id:bigint,text:string>"), pl)
    // dataset_card: every branch reads the ONE materialized base scan
    val pd = planOf("dataset_card")
    assert(!pd.contains("FileScan"),
      "all card branches must read the materialized base cut\n" + pd)
    // knn_triangles: equi-joins only — wedge closure must never plan a
    // nested loop or cartesian over the edge set
    val pt = planOf("knn_triangles")
    assert(!pt.contains("CartesianProduct"), pt)
    assert(countOccurrences(pt, "BroadcastNestedLoopJoin") <= 1, // the 16-row centroid cross
      pt)
    // adl: the candle build's exchange + one symbol window — nothing else
    val pa2 = planOf("adl")
    assert(countOccurrences(pa2, "Exchange hashpartitioning") == 2, pa2)
    // embedding_outliers: one materialized assignment scan feeds score and
    // moments; the cell-dim stats come back via broadcast
    val po = planOf("embedding_outliers")
    assert(!po.contains("FileScan"),
      "both branches must read the materialized assignment cut\n" + po)
    assert(po.contains("BroadcastHashJoin"), po)
    // lead_lag: the blocked pair join is an equi join and the five
    // correlations partial-aggregate map-side — never a cartesian
    val pll = planOf("lead_lag")
    assert(!pll.contains("CartesianProduct") &&
      !pll.contains("BroadcastNestedLoopJoin"), pll)
    assert(pll.contains("partial_corr"), pll)
    // pair_spread: the pair frame is CUT once (no candle rebuild past the
    // cut) and both stats tables come back via broadcast
    val pps = planOf("pair_spread")
    assert(pps.contains("Scan ExistingRDD"),
      "materialized pair frame expected\n" + pps)
    assert(!pps.contains("FileScan"),
      "no branch may rebuild the candles past the pair cut\n" + pps)
    assert(countOccurrences(pps, "BroadcastHashJoin") >= 2, pps)
    // tokenizer_fertility: one map-side-combined aggregation, pruned scan
    val pf = planOf("tokenizer_fertility")
    assert(countOccurrences(pf, "Exchange hashpartitioning") == 1, pf)
    assert(pf.contains("ReadSchema: struct<text:string,lang:string,n_chars:bigint>") ||
      pf.contains("ReadSchema: struct<lang:string") ||
      pf.contains("n_chars:bigint>"), pf)
    // centroid_drift: the churn pass is MAP-ONLY over the prior slice
    // (both nearest-cell argmaxes inline, no join on the vector path) —
    // the only join is the k-row drift/churn assembly
    val pcd = planOf("centroid_drift")
    assert(!pcd.contains("SortMergeJoin") && !pcd.contains("CartesianProduct"), pcd)
    // ltv_cohorts: the cumulative window runs over the dim-scale
    // (cohort, age) frame and cohort sizes broadcast back
    val plt = planOf("ltv_cohorts")
    assert(plt.contains("BroadcastHashJoin"), plt)
    assert(plt.contains("Window"), plt)
  }

  test("r10 wave-7 risk/volume-clock ops keep their scale shapes") {
    // volume_bars: ONE trade scan, ONE exchange end-to-end — the volume
    // window's symbol partitioning is reused by the (symbol, bar_id)
    // aggregation (tick_rule shape)
    val pv = planOf("volume_bars")
    assert(countOccurrences(pv, "Exchange hashpartitioning") == 1, pv)
    assert(countOccurrences(pv, "FileScan") == 1, pv)
    // vpin: the bucket frame is CUT once — no branch may rebuild the
    // fact-scale window chain; the last-bar screen comes back broadcast
    val pp = planOf("vpin")
    assert(!pp.contains("FileScan"),
      "both consumers must read the materialized bucket cut\n" + pp)
    assert(pp.contains("BroadcastHashJoin"), pp)
    assert(!pp.contains("SortMergeJoin"), pp)
    // risk_ratios / ulcer_index / vortex: the candle build's exchange +
    // ONE symbol window exchange (lag + running max/frame sums fold into
    // window passes over the same partitioning); the closing aggregation
    // reuses it
    Seq("risk_ratios", "ulcer_index", "vortex").foreach { q =>
      val p = planOf(q)
      assert(countOccurrences(p, "Exchange hashpartitioning") == 2, s"$q\n$p")
    }
    // kama: candle build + the sweep's symbol repartition — and NO window
    // operator (the ER state lives inside the sweep's ring buffer)
    val pk = planOf("kama")
    assert(countOccurrences(pk, "Exchange hashpartitioning") == 2, pk)
    assert(!pk.contains("Window"), pk)
  }

  test("r10 wave-8 graph/DQ/growth ops keep their scale shapes") {
    // knn_assortativity: equi joins over the cut edge/degree frames only —
    // the single nested loop is the 16-row centroid cross inside knnGraph
    val pa = planOf("knn_assortativity")
    assert(!pa.contains("CartesianProduct"), pa)
    assert(countOccurrences(pa, "BroadcastNestedLoopJoin") <= 1, pa)
    // benford_check: the fact scan is consumed by the 9-row count cut —
    // the final plan joins the cut against the literal spine broadcast,
    // plus the 1-row total cross
    val pb = planOf("benford_check")
    assert(!pb.contains("FileScan"),
      "both consumers must read the materialized digit-count cut\n" + pb)
    assert(pb.contains("BroadcastHashJoin"), pb)
    // heaps_curve: the cumulative runs through Scan.withRunningTotal
    // (r11 verdict ask #3) — the final plan ends at the two-pass scan's
    // RDD boundary and carries NO Window operator (the r10
    // unpartitioned-window scale-killer is gone)
    val ph = planOf("heaps_curve")
    assert(!ph.contains("Window"), ph)
    assert(ph.contains("Scan ExistingRDD"), ph)
    // the parquet pruning lives upstream of that boundary: the spine's
    // docs-count branch scans ONLY doc_id, the content branch doc_id+text
    val ps = graft.ops.Dedup.heapsSpine(
      graft.core.Tables.table(spark, Sf0001, "documents"), 100L)
      .queryExecution.executedPlan.toString
    assert(ps.contains("ReadSchema: struct<doc_id:bigint>"), ps)
    // trix: candle build + the sweep's repartition, no window operator
    val pt = planOf("trix")
    assert(countOccurrences(pt, "Exchange hashpartitioning") == 2, pt)
    assert(!pt.contains("Window"), pt)
  }

  test("r10 wave-9 indicator ops keep their scale shapes") {
    // cmo/dpo: candle build + ONE symbol window exchange
    Seq("cmo", "dpo").foreach { q =>
      val p = planOf(q)
      assert(countOccurrences(p, "Exchange hashpartitioning") == 2, s"$q\n$p")
    }
    // elder_ray/force_index: pure sweeps — candle build + repartition,
    // no window operator. tsi (four-state chained fold), fisher_transform
    // (midpoint ring replaces the rolling min/max window), and alligator
    // (three folds + displacement rings) keep the same shape (wave 13)
    Seq("elder_ray", "force_index",
      "tsi", "fisher_transform", "alligator").foreach { q =>
      val p = planOf(q)
      assert(countOccurrences(p, "Exchange hashpartitioning") == 2, s"$q\n$p")
      assert(!p.contains("Window"), s"$q\n$p")
    }
    // mass_index: the span sum lives INSIDE the sweep (integer ring) — a
    // post-sweep window would re-shuffle (Catalyst cannot see through
    // mapPartitions); candle build + repartition only, no window operator
    val pm = planOf("mass_index")
    assert(countOccurrences(pm, "Exchange hashpartitioning") == 2, pm)
    assert(!pm.contains("Window"), pm)
  }

  test("r10 wave-10 ops keep their scale shapes") {
    // vwma/ultimate_osc/coppock: candle build + ONE symbol window
    // exchange — the multi-width frames and the ten WMA lags all fold
    // into window passes over the same partitioning
    Seq("vwma", "ultimate_osc", "coppock").foreach { q =>
      val p = planOf(q)
      assert(countOccurrences(p, "Exchange hashpartitioning") == 2, s"$q\n$p")
    }
    // winnow_fingerprint: both consumers read the hashed-gram cut (no
    // re-explode of the corpus), one doc-keyed window
    val pw = planOf("winnow_fingerprint")
    assert(!pw.contains("FileScan"),
      "window chain and gram counts must read the materialized gram cut\n" + pw)
    assert(pw.contains("Window"), pw)
    // drift_psi: the final plan reads the dim-scale bin cut — the two
    // fact passes happened behind it; only 1-row broadcast crosses remain
    val pd = planOf("drift_psi")
    assert(!pd.contains("FileScan"),
      "totals and terms must read the materialized bin cut\n" + pd)
    assert(!pd.contains("SortMergeJoin") && !pd.contains("CartesianProduct"), pd)
  }

  test("r10 wave-11 ops keep their scale shapes") {
    // stoch_rsi: RSI's window + the stacked min/max frame share ONE
    // symbol exchange (plain windows compose); emv/chandelier_exit: the
    // same candle-build + one-window shape
    // wave-12 window studies ride the same shape: candle build + ONE
    // symbol window partitioning (stacked frames/lags share the sort)
    Seq("stoch_rsi", "emv", "chandelier_exit",
      "fractals", "awesome_osc", "kst", "rvi").foreach { q =>
      val p = planOf(q)
      assert(countOccurrences(p, "Exchange hashpartitioning") == 2, s"$q\n$p")
    }
    // event_transitions2: one user window exchange + the type^3 aggregate
    // + the dim-scale share window — no joins at all
    val pt = planOf("event_transitions2")
    assert(!pt.contains("Join"), pt)
    // cross_source_dups: both consumers read the (source, md5) cut; the
    // pair join is an equi hash join on the content hash, totals broadcast
    val pc = planOf("cross_source_dups")
    assert(!pc.contains("FileScan"),
      "pair join and totals must read the materialized distinct cut\n" + pc)
    assert(!pc.contains("CartesianProduct") &&
      !pc.contains("BroadcastNestedLoopJoin"), pc)
  }

  test("r10 wave-14 pipeline ops keep their scale shapes") {
    // span_dedup: keeper = one packed-min aggregation + equi join on the
    // span hash over the materialized span cut — no window, no cartesian
    val ps = planOf("span_dedup")
    assert(!ps.contains("FileScan"),
      "keeper join and rebuild must read the materialized span cut\n" + ps)
    assert(!ps.contains("Window") && !ps.contains("CartesianProduct"), ps)
    // dsir_weights: the bounded feature table comes back as a BROADCAST
    // equi join onto the token cut; totals are a 1-row broadcast cross
    val pw = planOf("dsir_weights")
    assert(pw.contains("BroadcastHashJoin"), pw)
    assert(!pw.contains("FileScan"),
      "all consumers must read the materialized token cut\n" + pw)
    assert(!pw.contains("CartesianProduct"), pw)
    // ccnet_buckets: the per-lang cumulative window runs over the
    // (lang, ppl) HISTOGRAM aggregate, never raw documents — the window's
    // child must be an aggregation, and cutoffs broadcast back
    val pb = planOf("ccnet_buckets")
    assert(pb.contains("Window"), pb)
    assert(pb.contains("BroadcastHashJoin"), pb)
  }

  test("r11 image_dedup keeps its scale shape") {
    // banding candidates come from an EQUI join on (chunk, cval) — never
    // an all-pairs comparison; the CC keeper needs no window (keeper is
    // doc_id == cluster_id, a map-side comparison)
    val p = planOf("image_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("r11 video_dedup keeps its scale shape") {
    // frame-aligned banding: candidates come from an EQUI join keyed by
    // (frame_idx, chunk, cval) — never all-pairs, no window anywhere
    // (majority verify is one count aggregation; keeper is map-side)
    val p = planOf("video_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("r11 zorder_key is a map-only codegen projection") {
    // the compaction-time layout primitive must cost ONE scan: 42
    // shift/and/or terms inside whole-stage codegen, zero exchanges, the
    // month slice pushed to parquet, only the 4 needed columns read
    val p = planOf("zorder_key")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(p.contains("*(1) Project"), p) // one whole-stage codegen span
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
      "l_suppkey:bigint,l_linenumber"), p)
  }

  test("r11 hilbert_skip: nine verdicts read three 32-row cuts, not the corpus") {
    // one corpus-scale aggregation per LAYOUT (each stats frame is cut at
    // 32 rows); the 3x3 (layout, pred) verdict aggregations then scan only
    // those tiny materialized frames — no file scan, join, or window in
    // the exposed plan
    val p = planOf("hilbert_skip")
    assert(!p.contains("FileScan"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(countOccurrences(p, "Scan ExistingRDD") == 9, p)
  }

  test("r11 zorder_skip stays dim-scale after one corpus scan") {
    // both layout summaries read the SAME materialized normalized frame
    // (two ExistingRDD scans of one cut — the corpus parquet was scanned
    // once, during materialization; its pruning is pinned in LayoutSpec),
    // and everything downstream is dim-scale: no join, window, or
    // cartesian anywhere in the exposed plan
    val p = planOf("zorder_skip")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("FileScan"), p)
    assert(countOccurrences(p, "Scan ExistingRDD") == 2, p)
  }

  test("r11e fuzzy/exactsubstr ops keep their scale shapes") {
    // edit_join: candidates from the signature EQUI self-join over ONE
    // materialized (id, s) cut — never a cartesian, never a window;
    // verify is the codegen'd threshold levenshtein
    val pj = planOf("edit_join")
    assert(!pj.contains("FileScan"),
      "both join sides must read the materialized cut\n" + pj)
    assert(!pj.contains("CartesianProduct") &&
      !pj.contains("BroadcastNestedLoopJoin"), pj)
    assert(!pj.contains("Window"), pj)
    assert(pj.contains("levenshtein"),
      "codegen levenshtein verify expected\n" + pj)
    // edit_cluster: keeper is a map-side comparison (id == cluster_id),
    // no window; labels come from CC cuts, never a corpus re-scan
    val pc = planOf("edit_cluster")
    assert(!pc.contains("CartesianProduct") && !pc.contains("Window"), pc)
    assert(!pc.contains("FileScan"), pc)
    // exactsubstr_prune: coverage screen and rebuild read the two
    // materialized cuts (word stream + gram stream); the corpus parquet
    // was scanned during materialization only — no window, no cartesian
    val pp = planOf("exactsubstr_prune")
    assert(!pp.contains("FileScan"),
      "consumers must read the materialized word/gram cuts\n" + pp)
    assert(!pp.contains("Window") && !pp.contains("CartesianProduct"), pp)
  }

  test("ann_filtered_pq: metadata rides the encode, never a corpus join") {
    // the label column is passed THROUGH the map-only encode
    // (ivfPqReconFrame passthrough) — no segment or final plan may join
    // corpus-scale frames (SMJ/shuffled-hash) to get metadata onto the
    // index rows; the only joins in the filtered-PQ path broadcast the
    // dim-scale probe/underfill frames
    graft.core.Materialize.inScope { scope =>
      try {
        val (df, segs) = graft.core.Materialize.recordingSegmentPlans(
          SparkEntry.query("ann_filtered_pq").build(spark, Sf0001))
        (segs :+ df.queryExecution.sparkPlan).foreach { p =>
          p.foreach {
            case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
              fail("corpus-scale SMJ in the filtered-PQ path:\n" + j)
            case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
              fail("corpus-scale shuffled-hash join in the filtered-PQ path:\n" + j)
            case _ => ()
          }
        }
      } finally scope.release(spark, blocking = true)
    }
  }

  test("ann_ivfpq_2level: serving joins broadcast, candidates never shuffle") {
    // the two-level serving scan must keep the flat path's shape: the
    // encoded corpus joins the dim-scale probe frame via BROADCAST hash
    // joins only — a SortMergeJoin/ShuffledHashJoin would mean the
    // corpus-scale candidate frame is being exchanged
    graft.core.Materialize.inScope { scope =>
      try {
        val (df, segs) = graft.core.Materialize.recordingSegmentPlans(
          SparkEntry.query("ann_ivfpq_2level").build(spark, Sf0001))
        (segs :+ df.queryExecution.sparkPlan).foreach { p =>
          p.foreach {
            case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
              fail("corpus-scale SMJ in the two-level serving path:\n" + j)
            case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
              fail("corpus-scale shuffled-hash join in the two-level serving path:\n" + j)
            case _ => ()
          }
        }
      } finally scope.release(spark, blocking = true)
    }
  }

  test("window-frame lint: (x, UNBOUNDED FOLLOWING) frames flagged red") {
    // the gapFillLinear O(n²) class (caught live in the r12 ×27 verify):
    // Spark executes (x, UNBOUNDED FOLLOWING) frames with
    // UnboundedFollowingWindowFunctionFrame, which rescans the rest of
    // the partition PER ROW — a deliberately bad frame must be flagged…
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("t", "x")
    val bad = df.withColumn("nxt",
      first(col("x"), ignoreNulls = true).over(
        Window.partitionBy(col("t") % 2).orderBy(col("t"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val vs = graft.tools.PlanLint.violationsIn(
      bad.queryExecution.sparkPlan, "bad_frame", "final")
    assert(vs.exists(_.contains("UNBOUNDED FOLLOWING")),
      "lint must reject the O(n²) frame:\n" + vs.mkString("\n"))
    // …while the O(n) mirror (last IGNORE NULLS over the reversed running
    // frame — the gapFillLinear fix) and the computed-once whole-partition
    // frame both pass
    val good = df
      .withColumn("nxt", last(col("x"), ignoreNulls = true).over(
        Window.partitionBy(col("t") % 2).orderBy(col("t").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("mx", max(col("x")).over(
        Window.partitionBy(col("t") % 2)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val gvs = graft.tools.PlanLint.violationsIn(
      good.queryExecution.sparkPlan, "good_frame", "final")
    assert(gvs.isEmpty, "false positives:\n" + gvs.mkString("\n"))
  }

  test("plan lint: a node with BOTH a shape violation and a UDF reports both") {
    // pins the (intended) r13 refactor: the ScalaUDF check sits outside
    // the shape match, so one node can draw two violations — both
    // defects need fixing, so both must appear
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val u = udf((x: Double) => x + 1.0)
    // spark.range, NOT a local Seq: ConvertToLocalRelation would evaluate
    // a Project over a LocalRelation (UDF included) at optimize time and
    // the lint would never see it
    val df = spark.range(2)
      .select(col("id").as("t"), col("id").cast("double").as("x"))
      .withColumn("r", first(u(col("x"))).over(Window.orderBy(col("t"))))
    val vs = graft.tools.PlanLint.violationsIn(
      df.queryExecution.sparkPlan, "bad_both", "final")
    assert(vs.exists(_.contains("unpartitioned WindowExec")),
      "shape violation missing:\n" + vs.mkString("\n"))
    assert(vs.exists(_.contains("ScalaUDF")),
      "UDF violation missing:\n" + vs.mkString("\n"))
  }

  test("full registry plan lint: no single-partition shapes anywhere") {
    // EVERY query in the registry — final plan AND the plans hidden
    // behind Materialize cuts — must plan zero CartesianProductExec,
    // zero unpartitioned WindowExec/WindowGroupLimitExec, and zero
    // explicit SinglePartition exchanges, except the two documented
    // dim-scale spines in PlanLint.dimScaleOk. The targeted tests above
    // pin the plans we designed; this sweep catches the query nobody
    // thought to pin (the r10 heaps_curve window landed exactly there).
    val vs = graft.tools.PlanLint.sweep(spark, Sf0001)
    assert(vs.isEmpty, "plan-lint violations:\n" + vs.mkString("\n"))
    // the allowlists must stay EXACT: an entry that no longer fires in a
    // strict re-sweep is dead weight that would silently mask a future
    // regression of that query — fail until removed
    val allow = graft.tools.PlanLint.dimScaleOk.keySet ++
      graft.tools.PlanLint.udfOk
    val strictHits = graft.tools.PlanLint
      .sweep(spark, Sf0001, only = Some(allow), strict = true)
      .map(_.takeWhile(_ != ' ')).toSet
    assert(strictHits == allow,
      s"stale allowlist entries (never fire): ${allow -- strictHits}")
  }
}
