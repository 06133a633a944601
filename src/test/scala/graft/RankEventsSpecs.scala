package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Specs for the distributed global rank/ntile operator and the event
  * analytics family (transition matrix, rolling active users), plus the
  * indicator additions (macd / stochastic / donchian / char entropy).
  */
class RankEventsSpecs extends SparkSpec {
  import spark.implicits._

  test("withNtile matches Spark's own ntile window on random frames") {
    // the window form is the semantics oracle (single partition — fine at
    // test scale, the thing the operator exists to avoid at 100 TB)
    (0 until 4).foreach { seed =>
      val n = Seq(1, 7, 40, 1000)(seed)
      val vals = Gen.listOfN(n, Gen.chooseNum(0, 500))
        .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed.toLong)).get
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v.toDouble) }
        .toDF("id", "v")
      for (k <- Seq(1, 3, 4, 7)) {
        val got = graft.ops.Rank
          .withNtile(df, k, Seq(col("v").desc, col("id")), "tile")
          .select(col("id"), col("rank"), col("tile"))
        val w = Window.orderBy(col("v").desc, col("id"))
        val want = df.select(col("id"),
          row_number().over(w).cast("long").as("rank"),
          ntile(k).over(w).cast("long").as("tile"))
        assert(got.except(want).isEmpty && want.except(got).isEmpty,
          s"seed=$seed k=$k diverged")
      }
    }
  }

  test("global rank never plans a single-partition window") {
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("v"))
    val ranked = graft.ops.Rank.withNtile(df, 4, Seq(col("v").desc, col("id")))
    ranked.count()
    val p = ranked.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "no window operator expected\n" + p)
  }

  test("rollingActiveUsers matches a naive per-day recount") {
    val events = (0 until 300).map { i =>
      (i.toLong, ts(T0 + (i % 17) * 86400L + i), (i % 23).toLong, "click", 0.0, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Events.rollingActiveUsers(events, 7)
      .select(col("day"), col("n_active")).as[(java.sql.Timestamp, Long)]
      .collect().toMap
    // naive: for each day in the data's span, distinct users over [d-6, d]
    val pairs = events.select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct().as[(java.sql.Timestamp, Long)].collect()
    val days = pairs.map(_._1.getTime).distinct.sorted
    val maxDay = days.max
    val naive = (days.min to maxDay by 86400000L).flatMap { d =>
      val us = pairs.filter(p => p._1.getTime <= d &&
        p._1.getTime >= d - 6L * 86400000L).map(_._2).distinct
      if (us.nonEmpty) Some(new java.sql.Timestamp(d) -> us.length.toLong) else None
    }.toMap
    assert(got == naive)
  }

  test("linearAttribution splits purchase value equally across window clicks") {
    // user 1: clicks c1,c2 then a 100.0 purchase inside 24h -> 50 each;
    // user 2: one click c3 then TWO purchases (30 and 50) -> c3 gets 80;
    // user 3: click c4 with the purchase 25h later -> outside the window
    val events = Seq(
      (101L, ts(T0 + 0), 1L, "click", 0.0, ""),
      (102L, ts(T0 + 60), 1L, "click", 0.0, ""),
      (103L, ts(T0 + 3600), 1L, "purchase", 100.0, ""),
      (201L, ts(T0 + 0), 2L, "click", 0.0, ""),
      (202L, ts(T0 + 100), 2L, "purchase", 30.0, ""),
      (203L, ts(T0 + 200), 2L, "purchase", 50.0, ""),
      (301L, ts(T0 + 0), 3L, "click", 0.0, ""),
      (302L, ts(T0 + 25 * 3600), 3L, "purchase", 40.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.ops.Events.linearAttribution(events)
      .collect().map(x => x.getLong(0) ->
        ((x.getAs[Long]("n_purchases"), x.getAs[Double]("credit")))).toMap
    assert(r == Map(
      101L -> ((1L, 50.0)), 102L -> ((1L, 50.0)), 201L -> ((2L, 80.0))))
    // conservation: total credit equals total attributed purchase value
    assert(math.abs(r.values.map(_._2).sum - 180.0) < 1e-6)
  }

  test("transition probabilities sum to 1 per prev_type") {
    val t = graft.ops.Events.transitions(
      graft.core.Tables.events(spark, Sf0001))
    val sums = t.groupBy(col("prev_type")).agg(sum(col("p")).as("s"))
      .select(col("s")).as[Double].collect()
    assert(sums.nonEmpty && sums.forall(s => math.abs(s - 1.0) < 1e-4))
  }

  test("second-order transitions: hand chain and per-context probability mass") {
    import spark.implicits._
    // user 1: a b a b a; user 2: a b b — contexts and counts by hand:
    // (a,b)->a x2 (u1), (a,b)->b x1 (u2), (b,a)->b x1 (u1)
    val ev = Seq(
      (1L, 0L, "a"), (2L, 1L, "b"), (3L, 2L, "a"), (4L, 3L, "b"), (5L, 4L, "a"),
      (6L, 0L, "a"), (7L, 1L, "b"), (8L, 2L, "b")
    ).zipWithIndex.map { case ((eid, off, t), i) =>
      (eid, ts(T0 + off * 60), if (i < 5) 1L else 2L, t)
    }.toDF("event_id", "ts", "user_id", "event_type")
    val r = graft.ops.Events.transitions2(ev).collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2)) ->
        ((x.getAs[Long]("n_transitions"), x.getAs[Double]("p")))).toMap
    assert(r(("a", "b", "a")) == ((2L, 0.666667)), r.toString)
    assert(r(("a", "b", "b")) == ((1L, 0.333333)), r.toString)
    assert(r(("b", "a", "b")) == ((1L, 1.0)))
    // every (prev2, prev1) context's probabilities sum to ~1
    val t2 = graft.ops.Events.transitions2(graft.core.Tables.events(spark, Sf0001))
    val sums = t2.groupBy(col("prev2_type"), col("prev_type"))
      .agg(sum(col("p")).as("s")).select(col("s")).as[Double].collect()
    assert(sums.nonEmpty && sums.forall(s => math.abs(s - 1.0) < 1e-4))
  }

  test("char entropy: known values, map-only plan") {
    val docs = Seq((1L, "aabb"), (2L, "abcd"), (3L, "aaaa"), (4L, ""))
      .toDF("doc_id", "text")
    val e = graft.ops.TextAnalysis.charEntropy(docs)
    val got = e.select(col("doc_id"), col("entropy_bits"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.0, 2L -> 2.0, 3L -> 0.0)) // empty doc dropped
    val p = e.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "char entropy must be map-only\n" + p)
  }

  test("char entropy: single linearithmic pass matches the reference fold on a long wide-alphabet doc") {
    // 1 MB doc, ~1000-char alphabet — the shape that made the old
    // distinct×filter formulation O(distinct·n) burn a core; the sorted
    // run-length fold must both finish fast and stay bit-compatible with
    // the oracle's fixed association order (sorted distinct chars)
    val rnd = new scala.util.Random(7)
    val alphabet = (0 until 1000).map(i => (0x4E00 + i).toChar) // CJK block: 1-char strings
    val text = new String(Array.fill(1 << 20)(alphabet(rnd.nextInt(alphabet.length))))
    val e = graft.ops.TextAnalysis.charEntropy(Seq((1L, text)).toDF("doc_id", "text"))
      .head()
    // reference: the documented fold — sorted distinct chars, acc − p·ln p
    val counts = text.groupBy(identity).map { case (c, xs) => (c.toString, xs.length) }
    val n = text.length.toDouble
    var acc = 0.0
    counts.keys.toSeq.sorted.foreach { c =>
      val p = counts(c) / n; acc = acc - p * math.log(p)
    }
    val expected = BigDecimal(acc / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(e.getAs[Long]("n_chars") == text.length.toLong)
    assert(e.getAs[Long]("n_distinct_chars") == counts.size.toLong)
    assert(e.getAs[Double]("entropy_bits") == expected)
  }

  test("macd recursion: hand-checked two-row series, one shuffle") {
    val candles = Seq(
      ("X", ts(T0), 10.0, 10.0, 10.0, 10.0, 1.0, 1L),
      ("X", ts(T0 + 3600), 10.0, 13.0, 10.0, 13.0, 1.0, 1L))
      .toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
    val m = graft.ohlcv.Analytics.macd(candles)
    val rows = m.orderBy("bucket_ts").collect()
    assert(rows(0).getDouble(2) == 0.0 && rows(0).getDouble(3) == 0.0)
    // eF = a12*13 + (1-a12)*10, eS = a26*13 + (1-a26)*10; macd = eF - eS
    val aF = 2.0 / 13; val aS = 2.0 / 27; val aG = 2.0 / 10
    val macd2 = (aF * 13 + (1 - aF) * 10) - (aS * 13 + (1 - aS) * 10)
    assert(math.abs(rows(1).getDouble(2) - macd2) < 1e-6)
    assert(math.abs(rows(1).getDouble(3) - aG * macd2) < 1e-6)
    val p = m.queryExecution.executedPlan.toString
    assert(p.sliding("Exchange".length).count(_ == "Exchange") == 1,
      "macd sweep must shuffle exactly once\n" + p)
  }

  test("gini: equal spends → 0, one-winner concentration → (n-1)/n") {
    val mkOrders = (spends: Seq[Double]) => spends.zipWithIndex.map {
      case (v, i) => (i.toLong, i.toLong, "O", v, ts(T0), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    def gini(spends: Seq[Double]): Double = {
      val d = org.apache.spark.sql.types.DecimalType(18, 2)
      val sp = mkOrders(spends).groupBy(col("o_custkey").as("ck"))
        .agg(sum(col("o_totalprice").cast(d)).as("spend"))
      val w = Window.orderBy(col("spend"), col("ck"))
      val n = spends.length
      sp.withColumn("rk", row_number().over(w).cast("long"))
        .agg((lit(2.0) * sum(col("rk") * col("spend")).cast("double") /
          (lit(n) * sum(col("spend")).cast("double")) -
          lit((n + 1).toDouble / n)).as("g"))
        .as[Double].head()
    }
    assert(math.abs(gini(Seq.fill(10)(5.0))) < 1e-9)
    // one customer holds (almost) everything: gini → (n-1)/n
    assert(math.abs(gini(Seq.fill(9)(0.01) ++ Seq(1e6)) - 0.9) < 0.01)
    // the oracled per-nation query emits sane values on testdata
    val q = SparkEntry.query("gini_by_nation").build(spark, Sf0001)
      .select(col("gini")).as[Double].collect()
    assert(q.nonEmpty && q.forall(g => g >= 0.0 && g < 1.0))
  }

  test("keltner bands bracket the center; bounce rate within [0,1]") {
    val candles = graft.ohlcv.Candles.fromTrades(
      graft.core.Tables.trades(spark, Sf0001), graft.core.Timeframe.parse("1h"))
    val k = graft.ohlcv.Analytics.keltner(candles)
    assert(k.where(col("upper_band") < col("center") ||
      col("lower_band") > col("center")).isEmpty)
    val b = graft.ops.Events.bounceRate(graft.core.Tables.events(spark, Sf0001))
      .select(col("bounce_rate")).as[Double].collect()
    assert(b.nonEmpty && b.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("zipf fit: corpus slope is negative (frequency decays with rank)") {
    val z = graft.ops.TextAnalysis.zipfFit(
      graft.core.Tables.table(spark, Sf0001, "documents"))
      .select(col("n_terms"), col("slope")).as[(Long, Double)].head()
    // sf0.001's synthetic vocabulary is smaller than the top-100 cap
    assert(z._1 > 0L && z._1 <= 100L && z._2 < 0.0)
  }

  test("pq encode: map-only plan, valid codes, self-seeds reconstruct well") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val pq = graft.ops.Ivf.pqEncode(emb)
    val p = pq.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      "pq encode must be map-only after the driver-side seed collect\n" + p)
    val rows = pq.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      (1 to 4).foreach(i => assert(r.getLong(i) >= 0 && r.getLong(i) < 16))
      val rc = r.getDouble(5)
      assert(rc >= -1.0 - 1e-9 && rc <= 1.0 + 1e-9)
    }
    // a seed vector's slices are themselves codebook entries: its
    // reconstruction is exact (cosine 1) because each subspace argmax
    // finds the identical centroid
    val seedIds = emb.select(col("vec_id")).orderBy(col("vec_id"))
      .limit(16).as[Long].collect().toSet
    val seedRecon = rows.filter(r => seedIds.contains(r.getLong(0)))
      .map(_.getDouble(5))
    assert(seedRecon.nonEmpty && seedRecon.forall(_ >= 0.999999))
  }

  test("pq search: compressed-domain top-k recalls a usable share of exact") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 10)
    val exact = graft.ops.Similarity.bruteForceTopK(spark, emb, q, 5)
    val pq = graft.ops.Ivf.pqSearch(emb, q, 5)
    val recall = graft.ops.Similarity.recallAtK(exact, pq)
    // 16-entry seeded codebooks over 4 subspaces are a coarse quantizer;
    // the spec pins "better than chance, worse than exact" territory and
    // the exact row-count contract (k rows per query)
    assert(recall > 0.1, s"recall=$recall")
    assert(pq.count() == exact.count())
  }

  test("ivfpq encode: map-only plan, valid cell/codes, residual recon beats plain pq") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val enc = graft.ops.Ivf.ivfPqEncode(emb,
      graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, 16, 1)))
    val p = enc.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      "ivfpq encode must be map-only after the driver-side model jobs\n" + p)
    val rows = enc.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) < 16) // cid
      (2 to 5).foreach(i => assert(r.getLong(i) >= 0 && r.getLong(i) < 16))
    }
    // residual codebooks only cover within-cell displacement, so mean
    // reconstruction quality must beat plain PQ at the same code bytes
    // (m=4 subspaces x 16 entries) — the reason IVF-PQ exists
    val meanRc = rows.map(_.getDouble(6)).sum / rows.length
    val plainRc = graft.ops.Ivf.pqEncode(emb).collect()
      .map(_.getDouble(5)).sum / rows.length
    assert(meanRc > plainRc,
      s"residual recon_cos $meanRc must beat plain PQ's $plainRc")
  }

  test("ivfpq search: at full probe width, recall >= plain pq at equal code bytes") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 10)
    val exact = graft.ops.Similarity.bruteForceTopK(spark, emb, q, 5)
    // nprobe = numCells scans every cell: isolates quantization quality
    // (residual PQ vs plain PQ) from the cell-pruning recall knob
    val cents = graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, 16, 1))
    val ivfpq = graft.ops.Ivf.ivfPqSearch(graft.ops.Ivf.ivfPqReconFrame(emb, cents),
      cents, q, 5, nprobe = 16)
    val pq = graft.ops.Ivf.pqSearch(emb, q, 5)
    val rIvfPq = graft.ops.Similarity.recallAtK(exact, ivfpq)
    val rPq = graft.ops.Similarity.recallAtK(exact, pq)
    assert(rIvfPq >= rPq, s"ivfpq recall $rIvfPq < plain pq recall $rPq")
    assert(ivfpq.count() == exact.count())
  }

  test("ivfpq rerank: recall >= plain ADC at every nprobe, k rows per query") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 10)
    val exact = graft.ops.Similarity.bruteForceTopK(spark, emb, q, 5)
    val cents = graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, 16, 1))
    val enc = graft.ops.Ivf.ivfPqReconFrame(emb, cents).cache()
    enc.count()
    Seq(4, 16).foreach { p =>
      val adc = graft.ops.Ivf.ivfPqSearch(enc, cents, q, 5, p)
      val rer = graft.ops.Ivf.ivfPqSearchRerank(enc, emb, cents, q, 5, p)
      val rAdc = graft.ops.Similarity.recallAtK(exact, adc)
      val rRer = graft.ops.Similarity.recallAtK(exact, rer)
      // exact scores inside the candidate set can only rank it better —
      // the re-rank must dominate raw ADC ordering at the same nprobe
      assert(rRer >= rAdc, s"nprobe=$p: rerank recall $rRer < adc $rAdc")
      assert(rer.count() == exact.count(), "k rows per query")
    }
    // every re-ranked cosine is the EXACT rounded cosine (not the ADC
    // reconstruction estimate): spot-check against brute-force scores
    val exactScores = exact.select(col("qid"), col("id2"), col("cos"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    graft.ops.Ivf.ivfPqSearchRerank(enc, emb, cents, q, 5).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactScores.get(key).foreach(c => assert(c == r.getDouble(2),
        s"rerank cos for $key must equal the exact cosine"))
    }
    enc.unpersist()
    graft.core.Materialize.releaseAll(spark, blocking = true)
  }

  test("semantic sample: per-cell budget respected, window-free, partitioning-invariant") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val s = graft.ops.Ivf.semanticSample(emb,
      graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, 8, iters = 0)), perCell = 5)
    // the per-cell pick must be the bounded heap aggregate, never a window
    // over the (giant at 100 TB) cell partitions
    assert(!s.queryExecution.executedPlan.toString.contains("Window"),
      "semanticSample must not plan a Window")
    val rows = s.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCell = rows.groupBy(_._1)
    assert(byCell.values.forall(_.length <= 5), "per-cell budget exceeded")
    assert(byCell.values.exists(_.length == 5), "populated cells must fill the budget")
    // rn is 1..n within each cell
    byCell.values.foreach(c => assert(c.map(_._3).sorted.toSeq == (1L to c.length).toSeq))
    // deterministic under a different input partitioning (the hash order
    // is content-based, not physical)
    val e13 = emb.repartition(13)
    val s2 = graft.ops.Ivf.semanticSample(e13,
        graft.ops.Ivf.Flat(graft.ops.Ivf.train(e13, 8, iters = 0)), perCell = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSet == s2.toSet)
  }

  test("semantic near-dup: exact subset of all-pairs truth, within-cell only") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val sem = graft.ops.Ivf.semanticNearDup(emb,
        graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, 8, iters = 0)), threshold = 0.4)
      .select(col("id1"), col("id2"), col("cos"))
      .as[(Long, Long, Double)].collect().toSet
    graft.core.Materialize.releaseAll(spark, blocking = true)
    val truth = graft.ops.Similarity.nearDupPairsAllPairs(emb, 0.4)
      .select(col("id1"), col("id2"), col("cos"))
      .as[(Long, Long, Double)].collect().toSet
    assert(sem.nonEmpty)
    // cell pruning never invents a pair and never changes a cosine
    assert(sem.subsetOf(truth),
      s"semantic pairs must be a subset of exact all-pairs truth")
    // the price of pruning, MEASURED: 0.288 at (8 cells, threshold 0.4,
    // sf0.001) — the 0.4 threshold admits many moderately-similar
    // cross-cluster pairs that land in different cells; true near-dups
    // (higher thresholds) co-cell far more often. Floor pins the regime.
    val recall = sem.size.toDouble / truth.size
    assert(recall > 0.2, s"within-cell recall collapsed: $recall")
  }

  test("semantic dedup: clusters close the pair graph, one diversity keeper each") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val cents = graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, 8, iters = 0))
    val pairs = graft.ops.Ivf.semanticNearDup(emb, cents, 0.4)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect()
    val dd = graft.ops.Ivf.semanticDedup(emb, cents, 0.4)
      .as[(Long, Long, Boolean)].collect()
    graft.core.Materialize.releaseAll(spark, blocking = true)
    val cluster = dd.map(r => r._1 -> r._2).toMap
    // exactly the paired vectors are clustered, and every near-dup pair
    // lands in one cluster (the CC closure did its job)
    assert(cluster.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    pairs.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters")
    }
    // min-label convention + exactly one keeper per cluster
    dd.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid not min-labeled")
      assert(members.count(_._3) == 1, s"cluster $cid keeper count != 1")
    }
  }

  test("pack/mix null edges: null text counts 0 tokens, null lang has no stratum") {
    val docs = Seq(
      (1L, "one two three", "en"), (2L, null: String, "en"),
      (3L, "uno dos", "es"), (4L, "stray", null: String))
      .toDF("doc_id", "text", "lang")
    val plan = graft.ops.TextAnalysis.packPlan(docs, capacity = 4).collect()
    // the null-text doc packs as a 0-token doc (n_seqs 0), not a crash
    val d2 = plan.find(_.getLong(0) == 2L).get
    assert(d2.getLong(2) == 0L && d2.getLong(5) == 0L)
    assert(plan.length == 4)
    val mix = graft.ops.TextAnalysis.mixRebalance(docs).collect()
    assert(!mix.exists(_.getLong(0) == 4L),
      "a null-lang doc has no stratum and is excluded")
    assert(mix.find(_.getLong(0) == 2L).exists(_.getLong(2) == 0L))
    // legacy sizeOfNull=-1: size(split(null)) returns -1 (NON-null, so a
    // coalesce guard never fires) — the shared tokens() must still count
    // 0, not walk the running totals backwards
    spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
    try {
      val legacy = graft.ops.TextAnalysis.packPlan(docs, capacity = 4).collect()
      val l2 = legacy.find(_.getLong(0) == 2L).get
      assert(l2.getLong(2) == 0L, "null text must count 0 under legacy sizeOfNull")
      assert(legacy.map(_.getLong(2)).forall(_ >= 0L))
    } finally spark.conf.unset("spark.sql.legacy.sizeOfNull")
  }

  test("corpus split: stable fractions per stratum, deterministic, salt rotates") {
    val docs = graft.core.Tables.table(spark, Sf0001, "documents")
    val got = graft.ops.TextAnalysis.corpusSplit(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val n = got.length.toDouble
    def frac(s: String) = got.count(_._3 == s) / n
    assert(math.abs(frac("train") - 0.8) < 0.06 &&
      math.abs(frac("val") - 0.1) < 0.05 && math.abs(frac("test") - 0.1) < 0.05)
    // stratum-independence: every language's fractions track the global
    // ones (the content hash ignores lang)
    got.groupBy(_._2).foreach { case (lang, rs) =>
      val f = rs.count(_._3 == "train").toDouble / rs.length
      assert(f > 0.6 && f < 0.95, s"$lang train fraction $f drifted")
    }
    // deterministic under repartitioning; salt rotates assignments
    val again = graft.ops.TextAnalysis.corpusSplit(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSet == again.toSet)
    val salted = graft.ops.TextAnalysis.corpusSplit(docs, salt = "epoch2").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val moved = got.count { case (id, _, s) => salted(id) != s }
    assert(moved > 0, "salt must rotate the assignment")
  }

  test("chunk plan: overlapped windows cover every token exactly, hand-checked") {
    val mk = (n: Int) => Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, mk(10)),   // one short chunk: [0,10)
      (2L, mk(128)),  // exactly one full window: [0,128)
      (3L, mk(129)),  // one extra token -> second, clamped window
      (4L, mk(300)),  // full multi-chunk: starts 0,96,192 + tail 288
      (5L, null: String)) // null text -> no chunks
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.chunkPlan(docs, size = 128, overlap = 32)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(c => (c._3, c._4)).toSeq }
    assert(got(1L) == Seq((0L, 10L)))
    assert(got(2L) == Seq((0L, 128L)))
    assert(got(3L) == Seq((0L, 128L), (96L, 129L)))
    assert(got(4L) == Seq((0L, 128L), (96L, 224L), (192L, 300L)))
    assert(!got.contains(5L))
    // coverage invariant: consecutive windows overlap by exactly `overlap`
    // except the clamped tail, and the last window ends at n_tokens
    got(4L).zip(got(4L).drop(1)).foreach { case ((s1, e1), (s2, _)) =>
      assert(s2 == s1 + 96 && s2 < e1)
    }
  }

  test("split leakage: straddling near-dup pairs, consistent with corpusSplit") {
    val docs = graft.core.Tables.table(spark, Sf0001, "documents")
    val leaks = graft.ops.TextAnalysis.splitLeakage(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3), r.getString(4)))
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(leaks.nonEmpty, "synthetic corpus has near-dups; some must straddle")
    val splitOf = graft.ops.TextAnalysis.corpusSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    leaks.foreach { case (a, b, j, s1, s2) =>
      assert(s1 != s2, s"pair ($a,$b) does not straddle")
      // the recomputed expression agrees with the corpusSplit assignment
      assert(splitOf(a) == s1 && splitOf(b) == s2)
      assert(j >= 0.5)
    }
    // leakage pairs are a subset of the candidate near-dup pairs
    val pairs = graft.ops.Dedup.minhashLsh(docs)
      .where(col("est_jaccard") >= 0.5)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(leaks.map(l => (l._1, l._2)).toSet.subsetOf(pairs))
  }

  test("quality prune: per-language quantile keeps every language represented") {
    val docs = graft.core.Tables.table(spark, Sf0001, "documents")
    val got = graft.ops.TextAnalysis.qualityPrune(docs, q = 0.25).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    // keep iff score >= own language's threshold, by construction
    got.foreach { case (_, s, t, k) => assert(k == (s >= t)) }
    got.groupBy(_._1).foreach { case (lang, rs) =>
      val kept = rs.count(_._4).toDouble / rs.length
      // ~75% survive per language (ties can push it up, never below)
      assert(kept >= 0.70 && kept <= 0.95, s"$lang kept $kept")
      // the per-lang threshold IS that language's quantile — languages
      // with low score distributions are not evicted wholesale
      assert(rs.exists(_._4), s"$lang fully evicted")
    }
  }

  test("budget sample: straddle-kept prefix per language, window-free, deterministic") {
    val docs = graft.core.Tables.table(spark, Sf0001, "documents")
    val bs = graft.ops.TextAnalysis.budgetSample(docs, budget = 5000)
    assert(!bs.queryExecution.executedPlan.toString.contains("Window"),
      "budget sample must ride the two-pass scan, not a per-lang window")
    val got = bs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    got.groupBy(_._2).foreach { case (lang, rs) =>
      val kept = rs.filter(_._5)
      val total = rs.map(_._3).sum
      val keptTokens = kept.map(_._3).sum
      if (total >= 5000)
        // the straddling doc is kept, so kept tokens reach the budget
        assert(keptTokens >= 5000, s"$lang kept only $keptTokens")
      else assert(kept.length == rs.length, s"$lang under budget must keep all")
      // keep decision is exactly "starts inside the budget"
      rs.foreach { case (_, _, _, cb, k) => assert(k == (cb < 5000)) }
    }
    val again = graft.ops.TextAnalysis.budgetSample(docs.repartition(7), budget = 5000)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got.forall(r => again(r._1) == r._4), "prefix sums must be partition-invariant")
  }

  test("mix rebalance: smallest language kept whole, kept token shares equalize") {
    val docs = graft.core.Tables.table(spark, Sf0001, "documents")
    val got = graft.ops.TextAnalysis.mixRebalance(docs).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    val byLang = got.groupBy(_._1)
    // the smallest language's rate is exactly 1.0 → every doc kept
    val minLang = byLang.minBy(_._2.map(_._2).sum)._1
    assert(byLang(minLang).forall(r => r._3 == 1.0 && r._4),
      "the smallest language must be kept in full")
    // kept token mass per language lands near the smallest language's
    // total (hash sampling is stochastic per doc; wide tolerance)
    val target = byLang(minLang).map(_._2).sum.toDouble
    byLang.foreach { case (lang, rs) =>
      val kept = rs.filter(_._4).map(_._2).sum.toDouble
      assert(kept > 0.5 * target && kept < 1.7 * target,
        s"$lang kept tokens $kept vs target $target — rebalancing failed")
    }
  }

  test("mix temperature: T=1 proportional all-keep, T→∞ recovers the uniform cap") {
    val docs = graft.core.Tables.table(spark, Sf0001, "documents")
    // T = 1 → e = 0: the natural mix is the T=1 mix — every rate 1.0,
    // every doc kept (proportional sampling at the matching budget)
    val t1 = graft.ops.TextAnalysis.mixTemperature(docs, temperature = 1.0)
      .collect()
    assert(t1.nonEmpty && t1.forall(r => r.getDouble(3) == 1.0 && r.getBoolean(4)))
    // T → ∞ → e → 1: rates must equal mixRebalance's min_tokens /
    // lang_tokens cap (compare at the oracle's 6-decimal grid — the
    // rebalance rate is the exact division, temperature's goes via pow)
    val rebal = graft.ops.TextAnalysis.mixRebalance(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val tInf = graft.ops.TextAnalysis.mixTemperature(docs, temperature = 1e9)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(tInf.keySet == rebal.keySet)
    tInf.foreach { case (id, r) =>
      assert(math.abs(r - rebal(id)) < 2e-6, s"doc $id: T=1e9 rate $r vs rebalance ${rebal(id)}")
    }
    // between the ends the boost is monotone: a smaller language's rate
    // never drops below a bigger language's at the same T, and rates are
    // monotone in T per language (T up → closer to uniform → bigger
    // languages cut harder)
    val t2 = graft.ops.TextAnalysis.mixTemperature(docs, temperature = 2.0)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
    val rateByLang = t2.groupBy(_._1).map { case (l, rs) => l -> rs.head._3 }
    val tokByLang = t2.groupBy(_._1).map { case (l, rs) => l -> rs.map(_._2).sum }
    for (a <- rateByLang.keys; b <- rateByLang.keys if tokByLang(a) < tokByLang(b))
      assert(rateByLang(a) >= rateByLang(b),
        s"smaller language $a must not sample below bigger $b")
  }

  test("semantic incremental: screen-cap sampling, best-match consistency, novel verdicts") {
    import graft.ops.Ivf
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val batch = emb.where(col("vec_id") % 10 === 0)
    val corpus = emb.where(col("vec_id") % 10 =!= 0)
    val out = Ivf.incrementalSemantic(batch, corpus, Ivf.Flat(Ivf.train(corpus, 16, iters = 0)))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
    graft.core.Materialize.releaseAll(spark, blocking = true)
    // every batch vector gets exactly one verdict row
    val batchIds = batch.select("vec_id").as[Long].collect().toSet
    assert(out.map(_._1).toSet == batchIds && out.length == batchIds.size)
    out.foreach { case (id, n, bm, bc, novel) =>
      // verdict is exactly the threshold test on the best screened cosine
      assert(novel == bc.forall(_ < 0.4), s"vec $id verdict inconsistent")
      assert((n == 0) == bm.isEmpty && bm.isEmpty == bc.isEmpty,
        s"vec $id empty-screen fields inconsistent")
    }
    // best_cos really is the cosine to best_match (self-consistency)
    val vb = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val (d, na, nb) = a.indices.foldLeft((0.0, 0.0, 0.0)) { case ((x, y, z), i) =>
        (x + a(i) * b(i), y + a(i) * a(i), z + b(i) * b(i)) }
      BigDecimal(d / math.sqrt(na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.foreach { case (id, _, bm, bc, _) =>
      bm.foreach(m => assert(math.abs(cos(vb(id), vb(m)) - bc.get) < 2e-6,
        s"vec $id best_cos doesn't match its best_match"))
    }
    // synthetic one-cell corpus: the cap screens exactly maxCell members,
    // drawn by the portable hash order (the LSH-cap contract)
    val dim = 4
    val cvecs = (1L to 150L).map(i => (i, Array.fill(dim)(0.1f + i * 1e-4f)))
    val c1 = cvecs.toDF("vec_id", "embedding")
    val b1 = Seq((1000L, Array.fill(dim)(0.1f))).toDF("vec_id", "embedding")
    val capped = Ivf.incrementalSemantic(b1, c1, Ivf.Flat(Ivf.train(c1, 1, iters = 0)),
        maxCell = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(capped._2 == 20L, s"expected 20 screened, got ${capped._2}")
    // empty corpus -> empty model: trivially novel, never a crash
    val c0 = c1.where(col("vec_id") < 0)
    val none = Ivf.incrementalSemantic(b1, c0, Ivf.Flat(Ivf.train(c0, 16, iters = 0)))
      .collect().head
    assert(none.getLong(1) == 0L && none.isNullAt(2) && none.getBoolean(4))
  }

  test("empty model: every IVF-family operator returns its schema, never crashes") {
    import graft.ops.Ivf
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val none = emb.where(col("vec_id") < 0) // empty corpus → empty model
    val m = Ivf.train(none)
    assert(m.isEmpty)
    // encode against the empty model: empty frame, full output schema
    val enc = Ivf.ivfPqEncode(emb, Ivf.Flat(m))
    assert(enc.count() == 0)
    assert(enc.columns.toSeq == Seq("vec_id", "cid", "code0", "code1",
      "code2", "code3", "recon_cos"))
    // search against an empty model: zero hits, no crash
    assert(Ivf.ivfPqSearch(Ivf.ivfPqReconFrame(none, Ivf.Flat(m)), Ivf.Flat(m),
      emb.where(col("vec_id") < 10), 5).count() == 0)
    // dedup/near-dup against the empty model: empty, correctly schemed
    val dd = Ivf.semanticDedup(emb, Ivf.Flat(m))
    assert(dd.count() == 0 &&
      dd.columns.toSeq == Seq("vec_id", "cluster_id", "keep"))
    val nd = Ivf.semanticNearDup(emb, Ivf.Flat(m))
    assert(nd.count() == 0 && nd.columns.toSeq == Seq("cid", "id1", "id2", "cos"))
    graft.core.Materialize.releaseAll(spark, blocking = true)
  }

  test("semantic operators serve a persisted model identically to in-place training") {
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_sem_model").toString
    graft.ops.Ivf.saveModel(spark,
      graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, k = 8, iters = 0)), dir)
    val graft.ops.Ivf.Flat(model) = graft.ops.Ivf.loadModel(spark, dir)
    val sampleInPlace = graft.ops.Ivf.semanticSample(emb,
        graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, 8, iters = 0)), perCell = 5)
      .collect().map(_.toSeq).toSet
    val sampleServed = graft.ops.Ivf.semanticSample(emb, graft.ops.Ivf.Flat(model),
        perCell = 5)
      .collect().map(_.toSeq).toSet
    assert(sampleServed == sampleInPlace)
    val ndInPlace = graft.ops.Ivf.semanticNearDup(emb,
        graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, 8, iters = 0)))
      .collect().map(_.toSeq).toSet
    val ndServed = graft.ops.Ivf.semanticNearDup(emb, graft.ops.Ivf.Flat(model))
      .collect().map(_.toSeq).toSet
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(ndServed == ndInPlace)
  }

  test("distributed scan: exclusive per-group prefix sums == window, groups span partitions") {
    // groups deliberately BIGGER than any single partition: the range
    // partitioning must split them and the two-pass offsets must stitch
    // the running totals back exactly
    val rows = (0 until 5000).map(i => (s"g${i % 3}", i.toLong, (i % 7 + 1).toLong))
    val df = rows.toDF("g", "k", "v").repartition(17)
    val got = graft.ops.Scan.withRunningTotal(df, Seq("g"), Seq("k"), "v")
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "the scan must not plan a per-group window")
    val expected = rows.groupBy(_._1).values.flatMap { grp0 =>
      val grp = grp0.sortBy(_._2)
      var cum = 0L
      grp.map { case (g, k, v) => val e = (g, k, v, cum); cum += v; e }
    }.toSet
    val gotSet = got.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotSet == expected)
    // the packing layout derived from it: sequences are dense — every
    // sequence index up to a lang's last is touched by some doc
    val docs = graft.core.Tables.table(spark, Sf0001, "documents")
    val plan = graft.ops.TextAnalysis.packPlan(docs, capacity = 64).collect()
    plan.groupBy(_.getString(1)).foreach { case (_, ds) =>
      val touched = ds.flatMap(r =>
        r.getLong(3) until (r.getLong(3) + math.max(r.getLong(5), 1L))).toSet
      val last = ds.map(r => r.getLong(3) + r.getLong(5) - 1).max
      assert((0L to last).forall(touched.contains),
        "dense packing must leave no empty sequence before the last")
    }
  }

  test("pivot levels order s2<=s1<=pivot<=r1<=r2; breadth counts cover the universe") {
    val candles = graft.ohlcv.Candles.fromTrades(
      graft.core.Tables.trades(spark, Sf0001), graft.core.Timeframe.parse("1h"))
    val pp = graft.ohlcv.Analytics.pivotPoints(candles)
    assert(pp.count() > 0)
    assert(pp.where(col("s2") > col("s1") || col("s1") > col("pivot") ||
      col("pivot") > col("r1") || col("r1") > col("r2")).isEmpty)
    val mb = graft.ohlcv.Analytics.marketBreadth(candles)
    // up+down+flat per bucket = symbols with a previous close that bucket
    val tot = mb.select((col("n_up") + col("n_down") + col("n_flat")).as("t"))
      .as[Long].collect()
    assert(tot.nonEmpty && tot.forall(t => t >= 1 && t <= 5))
  }

  test("rfm quartiles are balanced and the plan stays window-free") {
    val rfm = SparkEntry.query("rfm_segments").build(spark, Sf0001)
    rfm.count()
    assert(!rfm.queryExecution.executedPlan.toString.contains("Window"))
    val n = rfm.count()
    Seq("r_q", "f_q", "m_q").foreach { c =>
      val sizes = rfm.groupBy(col(c)).count()
        .select(col(c), col("count")).as[(Long, Long)].collect().toMap
      assert(sizes.keySet == Set(1L, 2L, 3L, 4L), s"$c buckets: ${sizes.keySet}")
      // SQL ntile: bucket sizes differ by at most 1
      assert(sizes.values.max - sizes.values.min <= 1, s"$c sizes: $sizes")
      assert(sizes.values.sum == n)
    }
  }

  test("session paths: bounded depth and top-N contract") {
    val p = graft.ops.Events.sessionPaths(
      graft.core.Tables.events(spark, Sf0001)).collect()
    assert(p.nonEmpty && p.length <= 20)
    p.foreach { r =>
      assert(r.getString(0).split(">").length <= 3)
      assert(r.getLong(1) >= 1L)
    }
  }

  test("ichimoku midpoints bound by the envelope; stickiness is a valid ratio") {
    val candles = graft.ohlcv.Candles.fromTrades(
      graft.core.Tables.trades(spark, Sf0001), graft.core.Timeframe.parse("1h"))
    val i = graft.ohlcv.Analytics.ichimoku(candles)
    assert(i.count() > 0)
    // conversion (9-bucket midpoint) can never leave the 26-bucket hull
    // that bounds base; both are always present on emitted rows
    assert(i.where(col("conversion").isNull || col("base").isNull).isEmpty)
    val st = graft.ops.Events.stickiness(graft.core.Tables.events(spark, Sf0001))
      .select(col("dau"), col("mau"), col("stickiness"))
      .as[(Long, Long, Double)].collect()
    assert(st.nonEmpty)
    st.foreach { case (dau, mau, r) =>
      assert(dau <= mau && r > 0.0 && r <= 1.0)
    }
  }

  test("misra-gries guarantee holds on random skewed streams under any partitioning") {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val k = 16
    (0 until 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // zipf-ish skew: low ids dominate — guarantees some true heavy hitters
      val stream = (0 until 2000).map { _ =>
        s"t${(math.sqrt(rnd.nextInt(400)).toInt)}"
      }
      val n = stream.length
      val exact = stream.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
      val heavy = exact.filter(_._2 > n.toDouble / k)
      assert(heavy.nonEmpty, "test stream must contain true heavy hitters")
      for (parts <- Seq(1, 3, 7)) {
        val df = stream.toDF("term").repartition(parts)
        val agg = udaf(new graft.functions.MisraGries(k), ExpressionEncoder[String]())
        val m = df.agg(agg(col("term")).as("mg"))
          .head().getMap[String, Long](0)
        heavy.foreach { case (t, f) =>
          val est = m.get(t)
          assert(est.isDefined, s"seed=$seed parts=$parts lost heavy hitter $t ($f)")
          assert(est.get <= f && est.get >= f - n.toDouble / k,
            s"seed=$seed parts=$parts bounds violated for $t: est=${est.get} true=$f")
        }
      }
    }
  }

  test("heavyHittersSketch: sketch-only path, O(k·partitions) shuffle, guarantee holds") {
    import graft.ops.TextAnalysis
    val k = 16
    val docs = graft.core.Tables.table(spark, Sf0001, "documents")
    val sketchDf = TextAnalysis.heavyHittersSketch(docs, k)
    // plan: two-phase object-hash aggregation whose only exchange is the
    // SinglePartition gather of ≤(k−1)-entry partial sketches — the exact
    // side's full-vocabulary hashpartitioning shuffle must NOT appear
    sketchDf.count()
    val plan = sketchDf.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.toLowerCase.contains("partial"), "map-side partial sketch expected\n" + plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      "sketch-only path must not shuffle the vocabulary\n" + plan)
    val m = sketchDf.head().getMap[String, Long](0)
    assert(m.size <= k - 1, s"MG sketch must hold at most k-1 counters, got ${m.size}")
    // the n/k guarantee vs exact counts (the contract the oracled
    // heavy_hitters query checks at sf0.01 — re-asserted here on the
    // sketch-only entry point)
    val exact = docs.select(explode(split(col("text"), "\\s+")).as("term"))
      .where(col("term") =!= "").groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    exact.filter(_._2 > n.toDouble / k).foreach { case (t, f) =>
      val est = m.get(t)
      assert(est.isDefined, s"sketch lost true heavy hitter $t ($f)")
      assert(est.get <= f && est.get >= f - n.toDouble / k,
        s"bounds violated for $t: est=${est.get} true=$f n=$n")
    }
  }

  test("cusum: one-sided sums keep their sign and breach flags are consistent") {
    val c = graft.ohlcv.Analytics.cusum(graft.ohlcv.Candles.fromTrades(
      graft.core.Tables.trades(spark, Sf0001), graft.core.Timeframe.parse("1h")))
    val rows = c.select(col("cusum_pos"), col("cusum_neg"), col("breach"))
      .as[(Double, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (sp, sn, br) =>
      assert(sp >= 0.0 && sn <= 0.0)
      // rounded values: a clear breach implies the flag (boundary rows may
      // round to exactly h without the unrounded value clearing it)
      if (sp > 4.001 || sn < -4.001) assert(br)
      if (!br) assert(sp <= 4.001 && sn >= -4.001)
    }
    // a deliberate level shift drives the positive side over the fence
    val shifted = (0 until 60).map { i =>
      val close = if (i < 30) 100.0 + (i % 2) else 100.0 + (i - 29) * 3.0
      ("X", ts(T0 + i * 3600), close, close, close, close, 1.0, 1L)
    }.toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
    assert(graft.ohlcv.Analytics.cusum(shifted).where(col("breach")).count() > 0)
  }

  test("containment pairs: a strict prefix doc is fully contained") {
    val words30 = (1 to 30).map(i => s"w$i").mkString(" ")
    val doc2 = words30 + " " + (31 to 35).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words30), (2L, doc2)).toDF("doc_id", "text")
    val got = graft.ops.Dedup.containmentPairs(docs, 0.8)
      .select(col("id1"), col("id2"), col("containment_1in2"), col("containment_2in1"))
      .as[(Long, Long, Double, Double)].collect()
    assert(got.length == 1)
    val (a, b, c12, c21) = got.head
    // doc 1's shingles are a subset of doc 2's: containment 1.0 one way
    assert(Set(a, b) == Set(1L, 2L))
    assert((if (a == 1L) c12 else c21) == 1.0)
    assert((if (a == 1L) c21 else c12) < 1.0)
  }

  test("acf values are valid correlations at every lag") {
    val a = graft.ohlcv.Analytics.autocorrelation(
      graft.ohlcv.Candles.fromTrades(graft.core.Tables.trades(spark, Sf0001),
        graft.core.Timeframe.parse("1h")))
      .select(col("lag_n"), col("acf")).as[(Long, Option[Double])].collect()
    assert(a.map(_._1).toSet == (1L to 5L).toSet)
    assert(a.flatMap(_._2).forall(v => v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9))
  }

  test("acf: a 2-return-row symbol (single lag pair) is excluded, not NaN") {
    // 3 candles → 2 returns → exactly ONE lag-1 pair: Spark's corr gives
    // NaN where SQL engines give NULL — the n > 1 guard excludes the row
    // in BOTH engines instead of diverging (r5 verdict, What's wrong #1)
    val candles = Seq(
      ("TINY", ts(T0), 10.0), ("TINY", ts(T0 + 3600), 11.0),
      ("TINY", ts(T0 + 7200), 12.0)) ++
      (0 until 40).map(i => ("BIG", ts(T0 + i * 3600L), 10.0 + (i % 7) * 0.5))
    val df = candles.toDF("symbol", "bucket_ts", "close")
    val got = graft.ohlcv.Analytics.autocorrelation(df).collect()
    assert(!got.exists(r => r.getString(0) == "TINY" && r.getLong(1) == 1L),
      "the single-pair (symbol, lag) row must be filtered, not emitted NaN")
    assert(got.filter(_.getString(0) == "BIG").length == 5)
    assert(!got.exists(r => !r.isNullAt(3) && r.getDouble(3).isNaN),
      "no NaN may survive to the output under any input shape")
  }

  test("stochastic %K bounds and donchian envelope invariants") {
    val candles = graft.ohlcv.Candles.fromTrades(
      graft.core.Tables.trades(spark, Sf0001), graft.core.Timeframe.parse("1h"))
    val st = graft.ohlcv.Analytics.stochastic(candles).collect()
    assert(st.nonEmpty)
    st.foreach { r =>
      if (!r.isNullAt(2)) {
        val k = r.getDouble(2)
        assert(k >= -1e-9 && k <= 100.0 + 1e-9, s"%K out of bounds: $k")
      }
    }
    val d = graft.ohlcv.Analytics.donchian(candles)
    assert(d.where(col("upper_band") < col("lower_band")).isEmpty)
    assert(d.where(col("middle") > col("upper_band") ||
      col("middle") < col("lower_band")).isEmpty)
  }

  test("williams %R, MFI bounds; %R mirrors stochastic %K; CCI flat-window null") {
    import graft.ohlcv.Analytics
    val candles = graft.ohlcv.Candles.fromTrades(
      graft.core.Tables.trades(spark, Sf0001), graft.core.Timeframe.parse("1h"))
    val wpr = Analytics.williamsR(candles).collect()
    assert(wpr.nonEmpty)
    wpr.foreach(r => if (!r.isNullAt(2))
      assert(r.getDouble(2) >= -100.0 - 1e-9 && r.getDouble(2) <= 1e-9))
    // %R = %K − 100 on the same window (both rounded after the identity)
    val k = Analytics.stochastic(candles).collect()
      .map(r => (r.getString(0), r.get(1)) -> r).toMap
    wpr.foreach { r =>
      val kr = k((r.getString(0), r.get(1)))
      if (!r.isNullAt(2) && !kr.isNullAt(2))
        assert(math.abs(r.getDouble(2) - (kr.getDouble(2) - 100.0)) < 2e-6,
          s"%R must mirror %K at ${r.get(1)}")
    }
    val mfi = Analytics.mfi(candles).collect()
    assert(mfi.nonEmpty)
    mfi.foreach(r => if (!r.isNullAt(2))
      assert(r.getDouble(2) >= -1e-9 && r.getDouble(2) <= 100.0 + 1e-9))
    assert(Analytics.cci(candles).collect().nonEmpty)
    // ADX and both DIs live in [0, 100]
    val ax = Analytics.adx(candles).collect()
    assert(ax.nonEmpty && ax.exists(!_.isNullAt(4)))
    ax.foreach { r =>
      Seq(2, 3, 4).foreach { i =>
        if (!r.isNullAt(i))
          assert(r.getDouble(i) >= -1e-9 && r.getDouble(i) <= 100.0 + 1e-9,
            s"adx col $i out of bounds: ${r.getDouble(i)}")
      }
    }
    // anchored VWAP: inside the symbol's price envelope, volume
    // accumulates monotonically within each (symbol, day) session
    val env = candles.groupBy(col("symbol"))
      .agg(min(col("low")).as("lo"), max(col("high")).as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val av = Analytics.anchoredVwap(candles)
      .withColumn("day", to_date(col("bucket_ts")))
      .collect()
    assert(av.nonEmpty)
    av.foreach { r =>
      val (lo, hi) = env(r.getString(0))
      assert(r.getDouble(2) >= lo - 1e-9 && r.getDouble(2) <= hi + 1e-9,
        s"avwap outside the price envelope: ${r.getDouble(2)}")
    }
    av.groupBy(r => (r.getString(0), r.get(4))).values.foreach { session =>
      val vols = session.sortBy(_.get(1).toString).map(_.getDouble(3))
      assert(vols.sameElements(vols.sorted), "cum_volume must be monotone")
    }
    // flat candles: CCI md == 0 -> null, MFI no-flow -> null, ADX's
    // zero smoothed TR -> null DIs (the documented degenerate contract)
    val flat = (1 to 30).map(i =>
      ("X", i.toLong * 1000, 5.0, 5.0, 5.0, 1.0))
      .toDF("symbol", "bucket_ts", "high", "low", "close", "volume")
    assert(Analytics.cci(flat).where(col("cci").isNotNull).isEmpty)
    assert(Analytics.mfi(flat).where(col("mfi").isNotNull).isEmpty)
    assert(Analytics.adx(flat).where(col("adx").isNotNull).isEmpty)
  }
}
