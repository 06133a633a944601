package graft

import graft.ops.{Ivf, Retrieval}
import graft.streaming.{StreamingAnnServe, StreamingSemanticNearDup, StreamingSemanticScreen}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Two-level (hierarchical) coarse quantizer: the "cells ∝ n at constant
  * cell size" configuration motivated by the ×243 ScaleProbe finding
  * (BENCH_NOTES r12) — flat assignment at n/c cells is quadratic in n,
  * two-level routing is k1 + k2 per row with k1·k2 effective cells.
  */
class TwoLevelIvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$Sf0001/documents.parquet")

  private def toyEmb(rows: Seq[(Long, Seq[Double])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Every centroid face, run on `e` (and, for hybrid retrieval, `d`)
    * under a given quantizer. The searches take `e`'s rows with vec_id <
    * 10 as queries; the filtered ones keep label 7 (carried through the
    * IVF-PQ encode); the incremental screens screen those rows against
    * `e`. The streamed faces feed the queries through a MemoryStream. */
  private def faces(e: DataFrame, d: DataFrame): Seq[(String, Ivf.Quantizer => DataFrame)] = {
    val q = e.where(col("vec_id") < 10)
    val label7 = col("label") === 7
    val hybridQ = q.select(col("vec_id"), array(lit("data"), lit("model")).as("terms"),
      col("embedding"))
    def enc(qz: Ivf.Quantizer) = Ivf.ivfPqReconFrame(e, qz, passthrough = Seq("label"))
    Seq(
      "knnGraph" -> (qz => Ivf.knnGraph(e, qz, 5)),
      "knnGraphCollapsed" -> (qz => Ivf.knnGraphCollapsed(e, qz, 5)),
      "knnComponents" -> (qz => Ivf.knnComponents(e, qz, 5)),
      "semanticNearDup" -> (qz => Ivf.semanticNearDup(e, qz)),
      "semanticDedup" -> (qz => Ivf.semanticDedup(e, qz)),
      "semanticDedupCollapsed" -> (qz => Ivf.semanticDedupCollapsed(e, qz)),
      "semanticDedupStable" -> (qz => Ivf.semanticDedupStable(e,
        e.select(col("vec_id"), col("vec_id").as("cluster_id")).limit(0), qz)),
      "ivfPqEncode" -> (qz => Ivf.ivfPqEncode(e, qz)),
      "ivfPqReconFrame" -> (qz => Ivf.ivfPqReconFrame(e, qz)),
      "ivfPqSearch" -> (qz => Ivf.ivfPqSearch(Ivf.ivfPqReconFrame(e, qz), qz, q, 5)),
      "ivfPqSearchRerank" -> (qz =>
        Ivf.ivfPqSearchRerank(Ivf.ivfPqReconFrame(e, qz), e, qz, q, 5)),
      "ivfPqSearchFiltered" -> (qz => Ivf.ivfPqSearchFiltered(enc(qz), qz, q, 10, label7)),
      "ivfPqSearchRerankFiltered" -> (qz =>
        Ivf.ivfPqSearchRerankFiltered(enc(qz), e, qz, q, 10, label7)),
      "searchTopK" -> (qz => Ivf.searchTopK(e, qz, q, 5)),
      "searchTopKFiltered" -> (qz => Ivf.searchTopKFiltered(e, qz, q, 10, label7)),
      "annRecall" -> (qz => Ivf.annRecall(e, qz, q, 5)),
      "semanticSample" -> (qz => Ivf.semanticSample(e, qz)),
      "embeddingOutliers" -> (qz => Ivf.embeddingOutliers(e, qz)),
      "incrementalSemantic" -> (qz => Ivf.incrementalSemantic(q, e, qz)),
      "hybridRrfIvf" -> (qz => Retrieval.hybridRrfIvf(d, e, hybridQ, qz)),
      "StreamingAnnServe.serve" -> (qz =>
        streamed(q)((in, sink) => StreamingAnnServe.serve(in, e, qz, 5)(sink))),
      "StreamingSemanticScreen.run" -> (qz =>
        streamed(q)((in, sink) => StreamingSemanticScreen.run(in, e, qz)
          .writeStream.foreachBatch(sink).start())))
  }

  /** Feeds `in`'s (vec_id, ts = 0, embedding) rows to the stream `start`
    * builds, in 3 micro-batches, and returns every row its sink received. */
  private def streamed(in: DataFrame)(
      start: (DataFrame, (DataFrame, Long) => Unit) => StreamingQuery): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ts = new java.sql.Timestamp(0L)
    val rows = in.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().map { case (id, v) => (id, ts, v) }
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, java.sql.Timestamp, Seq[Double])]
    val got = scala.collection.mutable.ArrayBuffer.empty[Row]
    var schema = new StructType()
    val sq = start(stream.toDF.toDF("vec_id", "ts", "embedding"), (batch, _) =>
      got.synchronized { schema = batch.schema; got ++= batch.collect() })
    try {
      sq.processAllAvailable()
      rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { g =>
        stream.addData(g.toIndexedSeq: _*)
        sq.processAllAvailable()
      }
    } finally sq.stop()
    got.synchronized(spark.createDataFrame(
      spark.sparkContext.parallelize(got.toSeq), schema))
  }

  /** The streaming near-dup screen's pairs over `e`, fed in 3 micro-batches. */
  private def streamedPairs(e: DataFrame, qz: Ivf.Quantizer): Set[Seq[Any]] =
    rows(streamed(e)((in, sink) =>
      StreamingSemanticNearDup.run(in, qz, watermark = "1 hour").toDF()
        .writeStream.outputMode("append").foreachBatch(sink).start()))

  /** Runs the faces `pick` selects on the flat iters=0 model and on a k1=1
    * two-level model, and asserts both give the same rows. k1 = 1 → sub-seeds
    * are the 16 lowest vec_ids = the flat seed matrix, scid = local id = flat
    * cid, sub-centroid = flat centroid, and the hierarchical probe (1 block →
    * nprobe sub-cells) is the flat probe. The trained model routes through
    * its own L1 cut (one scan); the same model without it (as loaded)
    * re-assigns — both must agree. */
  private def assertK1EqualsFlat(pick: String => Boolean): Unit = {
    val flat = Ivf.Flat(Ivf.train(emb, 16, iters = 0))
    val picked = faces(emb, docs).filter { case (face, _) => pick(face) }
    assert(picked.nonEmpty, "no face selected")
    picked.foreach { case (face, run) =>
      // trained per face: the training cut lives until the release below
      val fitted = Ivf.trainTwoLevel(emb, k1 = 1, k2 = 16, iters = 0)
      val loaded = Ivf.TwoLevelModel(fitted.l1, fitted.l2, fitted.k2)()
      val want = rows(run(flat))
      assert(want.nonEmpty, s"$face: fixture produced no rows")
      assert(rows(run(fitted)) == want, s"$face: two-level (k1=1, training cut) != flat")
      assert(rows(run(loaded)) == want, s"$face: two-level (k1=1, re-assigned) != flat")
      graft.core.Materialize.releaseAll(spark, blocking = true)
    }
  }

  /** Runs the faces `pick` selects on an empty corpus, flat and two-level. */
  private def assertEmptyIsResult(pick: String => Boolean): Unit = {
    val empty = Seq.empty[(Long, Seq[Double], Long)].toDF("vec_id", "embedding", "label")
    val noDocs = docs.limit(0)
    val quantizers = Seq(
      "flat" -> Ivf.Flat(Ivf.train(empty, 16, iters = 0)),
      "two-level" -> Ivf.trainTwoLevel(empty, 2, 2))
    val picked = faces(empty, noDocs).filter { case (face, _) => pick(face) }
    assert(picked.nonEmpty, "no face selected")
    quantizers.foreach { case (kind, qz) =>
      assert(qz.isEmpty, s"$kind: empty corpus must train an empty model")
      picked.foreach { case (face, run) =>
        assert(run(qz).count() == 0L, s"$kind $face on an empty corpus")
      }
    }
  }

  // Which faces each of the tests below covers; "every face" runs the rest.
  private def isSemantic(face: String) =
    face.startsWith("semanticNearDup") || face.startsWith("semanticDedup")
  private def isIvfPq(face: String) = face.startsWith("ivfPq")
  private def isFiltered(face: String) = isIvfPq(face) && face.endsWith("Filtered")

  test("knnGraphTwoLevel: k1=1 equals the flat knnGraph exactly (sf0.001)") {
    assertK1EqualsFlat(_ == "knnGraph")
  }

  test("semantic faces: k1=1 equals the flat SemDeDup faces exactly") {
    assertK1EqualsFlat(isSemantic)
  }

  test("ivfPq two-level faces: k1=1 equals the flat iters=0 faces exactly") {
    assertK1EqualsFlat(f => isIvfPq(f) && !isFiltered(f))
  }

  test("filtered two-level IVF-PQ: k1=1 equals the flat filtered face") {
    assertK1EqualsFlat(isFiltered)
  }

  test("every face: a k1=1 two-level model returns the flat iters=0 rows") {
    assertK1EqualsFlat(f => f != "knnGraph" && !isSemantic(f) && !isIvfPq(f))
    val flat = Ivf.Flat(Ivf.train(emb, 16, iters = 0))
    val sub = emb.where(col("vec_id") < 200)
    assert(streamedPairs(sub, Ivf.trainTwoLevel(sub, 1, 16)) ==
      streamedPairs(sub, flat),
      "streaming near-dup screen: two-level (k1=1) != flat")
  }

  test("semantic 2level faces: empty corpus is a result, not a crash") {
    assertEmptyIsResult(isSemantic)
  }

  test("ivfPq two-level faces: empty corpus is a result, not a crash") {
    assertEmptyIsResult(isIvfPq)
  }

  test("every face: an empty corpus is a result, not a crash, on both quantizers") {
    assertEmptyIsResult(f => !isSemantic(f) && !isIvfPq(f))
  }

  private def graphRows(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.select(col("vec_id").cast("long"), col("neighbor_id").cast("long"),
        col("cos"), col("rn"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet

  test("trainTwoLevel: k1=1, iters=0 degenerates to the flat seed matrix") {
    val m = Ivf.trainTwoLevel(emb, k1 = 1, k2 = 8, iters = 0)
    val flat = Ivf.train(emb, k = 8, iters = 0)
    assert(m.k1 == 1 && m.k2 == 8 && m.l2.length == 8)
    (m.l2 zip flat).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.sameElements(b), s"sub-centroid $i differs from flat seed")
    }
  }

  test("assignTwoLevel: scid always routes back to its own L1 cell") {
    val m = Ivf.trainTwoLevel(emb, k1 = 4, k2 = 4, iters = 1)
    assert(m.l2.length == m.k1 * m.k2)
    val e = emb.where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val l1 = Ivf.assign(e, m.l1).select(col("vec_id"), col("cid").as("cid1"))
    // both routings: the fused map-side one and the training cut's cells
    Seq(m.route(e), m.cells(emb)).foreach { routed =>
      val bad = routed.join(l1, "vec_id")
        .where(floor(col("cid") / m.k2) =!= col("cid1")).count()
      assert(bad == 0L, s"$bad rows routed outside their L1 block")
    }
  }

  test("knnComponentsTwoLevel: two tight clusters separate on a toy corpus") {
    // two orthogonal bundles, ids INTERLEAVED so the k1=2 lowest-vec_id
    // L1 seeds (ids 1, 2) come one from each bundle; k2=1 → scid == cid
    val e = toyEmb(Seq(
      1L -> Seq(1.00, 0.01), 3L -> Seq(0.99, 0.02), 5L -> Seq(0.98, 0.00),
      2L -> Seq(0.01, 1.00), 4L -> Seq(0.02, 0.99), 6L -> Seq(0.00, 0.98)))
    val comps = Ivf.knnComponents(e, Ivf.trainTwoLevel(e, k1 = 2, k2 = 1), k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(Set(comps(1L), comps(3L), comps(5L)).size == 1)
    assert(Set(comps(2L), comps(4L), comps(6L)).size == 1)
    assert(comps(1L) != comps(2L), "orthogonal bundles merged")
  }

  test("knnComponentsTwoLevel: invariant under repartitioning (sf0.001)") {
    def run(parts: Int): Set[(Long, Long)] = {
      val e = emb.repartition(parts)
      Ivf.knnComponents(e, Ivf.trainTwoLevel(e, k1 = 4, k2 = 4), k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(run(1) == run(13))
  }

  test("trainTwoLevel: under-full and empty blocks pad without crashing") {
    // 3 vectors, k1=2, k2=4: every block under-full; Lloyd round on top —
    // duplicates/padding must never break assignment or the graph
    val e = toyEmb(Seq(
      1L -> Seq(1.0, 0.0), 2L -> Seq(0.9, 0.1), 3L -> Seq(0.0, 1.0)))
    val m = Ivf.trainTwoLevel(e, k1 = 2, k2 = 4, iters = 1)
    assert(m.l2.length == m.k1 * 4)
    assert(m.cells(e).count() == 3L)
    // cells with ≤ k2 members seed one sub-cell per member, so the
    // within-sub-cell graph is EMPTY — the documented over-partitioning
    // degenerate (flat knnGraph at numCells ≥ n behaves identically);
    // the configuration contract is k1·k2 ≪ n / k
    val g = Ivf.knnGraph(e, m, k = 2)
    assert(g.count() == 0L)
  }

  test("two-level faces: empty corpus and null embeddings are results, not crashes") {
    val empty = toyEmb(Seq.empty)
    assert(Ivf.trainTwoLevel(empty, 2, 2).isEmpty)
    assert(Ivf.knnGraph(empty, Ivf.trainTwoLevel(empty, 2, 2), 3).count() == 0L)
    assert(Ivf.knnComponents(empty, Ivf.trainTwoLevel(empty, 2, 2), 3).count() == 0L)
    // null embedding rows drop at the parse boundary (the vecs contract)
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, Seq(1.0, 0.0)),
        org.apache.spark.sql.Row(2L, Seq(0.9, 0.1)),
        org.apache.spark.sql.Row(3L, null))),
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
    val g = Ivf.knnGraph(withNull, Ivf.trainTwoLevel(withNull, k1 = 1, k2 = 1), k = 2)
    assert(graphRows(g).map(_._1) == Set(1L, 2L))
  }

  test("twoLevelSizing: cells ∝ n at (at most) the target cell size") {
    // the r13 ask-#5 policy: k1 = k2 = ceil(sqrt(n / c)) — enough cells
    // for the target size, per-row routing O(sqrt(n/c)) flops
    for (n <- Seq(0L, 1L, 255L, 256L, 257L, 100000L, 3645000L, 1000000000L);
         c <- Seq(64, 256, 1024)) {
      val (k1, k2) = Ivf.twoLevelSizing(n, c)
      assert(k1 == k2 && k1 >= 1, s"n=$n c=$c -> ($k1,$k2)")
      assert(k1.toLong * k2 * c >= n,
        s"under-provisioned: n=$n c=$c cells=${k1.toLong * k2}")
      // never grossly over-provisioned either: one ceil step of slack
      // on each level (k-1 on either axis would already be too few cells)
      if (n > c)
        assert((k1 - 1).toLong * (k2 - 1) * c < n,
          s"over-provisioned: n=$n c=$c k=$k1")
    }
    assert(Ivf.twoLevelSizing(0L) == (1, 1))
    assert(Ivf.twoLevelSizing(1L) == (1, 1))
    // monotone in n at fixed c
    val ks = Seq(1000L, 10000L, 100000L, 1000000L)
      .map(n => Ivf.twoLevelSizing(n, 256)._1)
    assert(ks == ks.sorted, s"not monotone: $ks")
    intercept[IllegalArgumentException](Ivf.twoLevelSizing(10L, 0))
    intercept[IllegalArgumentException](Ivf.twoLevelSizing(-1L, 256))
  }

  test("twoLevelSizing: trainTwoLevel accepts the sized (k1, k2) end-to-end") {
    val (k1, k2) = Ivf.twoLevelSizing(500L, targetCell = 64)
    assert(k1 == 3 && k2 == 3) // ceil(sqrt(500/64)) = ceil(2.79...)
    val m = Ivf.trainTwoLevel(emb, k1, k2, iters = 0)
    assert(m.k1 == k1 && m.k2 == k2 && m.l2.length == k1 * k2)
    val cells = m.cells(emb)
    // expected cell size ≈ 500/9 ≈ 56 ≤ target; the QUANTIZER can't bound
    // the max cell (dup skew goes to one cell — that's what the dedup
    // cap is for), so pin the count, not the distribution
    assert(cells.select(col("cid")).distinct().count() <= (k1 * k2).toLong)
  }

  test("two-level model round-trips through save/load; graph identical") {
    val m = Ivf.trainTwoLevel(emb, k1 = 4, k2 = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_tlm")
    try {
      val path = s"$dir/m"
      Ivf.saveModel(spark, m, path)
      val m2 = Ivf.loadModel(spark, path) match {
        case t: Ivf.TwoLevelModel => t
        case other => fail(s"a two-level model loaded as $other")
      }
      assert(m2.k1 == m.k1 && m2.k2 == m.k2)
      assert((m.l1 zip m2.l1).forall { case (a, b) => a.sameElements(b) })
      assert((m.l2 zip m2.l2).forall { case (a, b) => a.sameElements(b) })
      assert(graphRows(Ivf.knnGraph(emb, m2, 5)) ==
        graphRows(Ivf.knnGraph(emb, m, 5)))
    } finally graft.tools.NullSweep.deleteRecursively(dir.toString)
  }

  test("residual PQ codebooks are non-degenerate at iters = 0") {
    // the r14 recall-table find: codebook seeds used to be the residuals
    // of the k LOWEST vec_ids — exactly the coarse quantizer's seed
    // members, whose residuals are identically ZERO at iters = 0 — so
    // Lloyd collapsed every book to ONE effective code and all ADC
    // scores in a cell tied (measured adc@5 = 0.04, invariant in m).
    // Seeds now come in portable md5-hash order; codes must actually
    // spread. Pre-fix this assertion reads countDistinct(code0) == 1.
    val enc = Ivf.ivfPqEncode(emb, Ivf.Flat(Ivf.train(emb, 16, iters = 0)))
    val distinctCodes = enc.select(countDistinct(col("code0"))).head().getLong(0)
    assert(distinctCodes >= 8,
      s"code0 uses only $distinctCodes of 16 codebook entries — degenerate book")
    val encTl = Ivf.ivfPqEncode(emb, Ivf.trainTwoLevel(emb, k1 = 4, k2 = 4))
    val distinctTl = encTl.select(countDistinct(col("code0"))).head().getLong(0)
    assert(distinctTl >= 8,
      s"two-level code0 uses only $distinctTl of 16 entries — degenerate book")
  }

  test("loadTwoLevelModel: a truncated model fails loudly, not silently") {
    // a level-2 row count that is not an exact multiple of k1 means the
    // scid = cid·k2 + local block arithmetic would route garbage — the
    // load must raise, never return a plausible-looking model
    val m = Ivf.trainTwoLevel(emb, k1 = 4, k2 = 4, iters = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_tlm_bad")
    try {
      val path = s"$dir/m"
      Ivf.saveModel(spark, m, path)
      val truncated = s"$dir/trunc"
      spark.read.parquet(path)
        .where(!(col("level") === 2 && col("cid") === 15))
        .write.parquet(truncated)
      val ex = intercept[IllegalArgumentException] {
        Ivf.loadModel(spark, truncated)
      }
      assert(ex.getMessage.contains("not a multiple of k1"))
      // 0 % k1 == 0, so entirely-missing level-2 rows slip the multiple
      // check (the r13 ADVICE finding): k2=0 would silently route every
      // row to scid 0 and the probe would divide by zero — must raise
      val noL2 = s"$dir/nol2"
      spark.read.parquet(path).where(col("level") === 1)
        .write.parquet(noL2)
      val ex2 = intercept[IllegalArgumentException] {
        Ivf.loadModel(spark, noL2)
      }
      assert(ex2.getMessage.contains("no level-2 rows"))
    } finally graft.tools.NullSweep.deleteRecursively(dir.toString)
  }

  test("NearestSubCell: an out-of-range cid1 fails the job loudly") {
    // the only in-repo caller supplies cid from assign() over the same
    // model, so a stray id can only mean a corrupt assignment or a
    // model/assignment pairing from different trainings — silently
    // clamping it would make downstream graphs quietly wrong
    val m = Ivf.trainTwoLevel(emb, k1 = 2, k2 = 2, iters = 0)
    val e = toyEmb(Seq(1L -> Seq.fill(64)(0.5)))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        lit(7).as("cid")) // out of [0, 2)
    val ex = intercept[Exception] { // SparkException or the raw IAE,
      // depending on whether the expression runs in a task or driver-side
      e.withColumn("scid", graft.functions.nearest_sub_cell(
          col("v"), col("cid"), m.l2.flatten, m.k1, m.k2, m.l1.head.length))
        .collect()
    }
    assert(ex.getMessage.contains("out of [0, 2)") ||
      Option(ex.getCause).exists(_.getMessage.contains("out of [0, 2)")))
  }

  test("two-level recovers nested cluster structure exactly as flat does") {
    // 6 tight bundles in 3 orthogonal super-groups (A/B/C on disjoint
    // axis pairs, ±0.4 sub-split within each): ground truth is 6
    // components of 10. ids interleave sub-bundles so the lowest-vec_id
    // seeding picks one L1 seed per super-group (ids 1..3) and one k2
    // seed per sub-bundle within each cell (ids 1&4, 2&5, 3&6). Both the
    // flat quantizer at 6 cells and the two-level 3×2 must recover the
    // exact ground-truth components — hierarchical routing costs nothing
    // when the data has the nested structure it models.
    val dirs = Seq( // sub_index 0..5 = A1 B1 C1 A2 B2 C2
      Seq(1.0, 0.4, 0.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.4, 0.0, 0.0),
      Seq(0.0, 0.0, 0.0, 0.0, 1.0, 0.4), Seq(1.0, -0.4, 0.0, 0.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, -0.4, 0.0, 0.0), Seq(0.0, 0.0, 0.0, 0.0, 1.0, -0.4))
    val rows = for (j <- 0 until 10; s <- 0 until 6) yield {
      val d = dirs(s).toArray.clone()
      val jitterAxis = dirs(s).indexWhere(x => x != 0.0 && math.abs(x) == 0.4)
      d(jitterAxis) = d(jitterAxis) + 0.01 * j // within-bundle cos ≈ 0.999
      (1L + s + 6L * j, d.toSeq)
    }
    val e = toyEmb(rows)
    def comps(df: DataFrame): Set[Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val truth = (0 until 6).map(s => (0 until 10).map(j => 1L + s + 6L * j).toSet).toSet
    val two = comps(Ivf.knnComponents(e, Ivf.trainTwoLevel(e, k1 = 3, k2 = 2), k = 9))
    val flat = comps(Ivf.knnComponents(e, Ivf.Flat(Ivf.train(e, 6, iters = 0)), k = 9))
    assert(two == truth, "two-level components differ from ground truth")
    assert(flat == truth, "flat components differ from ground truth")
  }
}
