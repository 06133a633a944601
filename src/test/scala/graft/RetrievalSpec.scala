package graft

import org.apache.spark.sql.functions._

/** Retrieval-fusion family: RRF hybrid search, MMR diversification, and
  * the sketch-cost source-overlap estimate.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Array[Double])*) =
    rows.toSeq.toDF("vec_id", "embedding")

  test("hybrid_rrf: rank-1 in both lists fuses to 2/(60+1) and wins") {
    val docs = Seq(
      (1L, "spark spark spark and spark again"),
      (2L, "join join elsewhere"),
      (3L, "nothing relevant here at all")).toDF("doc_id", "text")
    // query vector 100 = [1,0]; doc 1 exactly aligned (sem rank 1),
    // doc 3 close (rank 2), doc 2 orthogonal (rank 3)
    val e = emb(
      100L -> Array(1.0, 0.0),
      1L -> Array(1.0, 0.0),
      2L -> Array(0.0, 1.0),
      3L -> Array(0.9, 0.1))
    val out = graft.ops.Retrieval
      .hybridRrf(docs, e, Seq("spark", "join"), 100L, n = 20, k = 10)
      .collect()
    val top = out.head
    assert(top.getLong(0) == 1L) // doc 1: lex rank 1 (most "spark") + sem rank 1
    assert(top.getLong(1) == 1L && top.getLong(2) == 1L)
    val exp = BigDecimal(1.0 / 61 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(top.getDouble(3) == exp)
    // doc 3 misses the lexical list: null lex_rn, sem-only contribution
    val d3 = out.find(_.getLong(0) == 3L).get
    assert(d3.isNullAt(1) && d3.getLong(2) == 2L)
    val exp3 = BigDecimal(1.0 / 62)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(d3.getDouble(3) == exp3)
  }

  test("hybrid_rrf is deterministic across partitionings") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val e = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val a = graft.ops.Retrieval
      .hybridRrf(docs, e, Seq("spark", "join", "data"), 3L)
      .collect().map(_.toString).sorted
    val b = graft.ops.Retrieval
      .hybridRrf(docs.repartition(7), e.repartition(5),
        Seq("spark", "join", "data"), 3L)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("hybridRrfMulti: per qid equals the single-query hybridRrf; the " +
    "IVF face at nprobe = numCells matches the exact face") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val e = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val qdefs = Seq(
      (3L, Seq("spark", "join", "data")),
      (7L, Seq("data", "model")),
      (11L, Seq("the", "quick")))
    val qframe = e
      .join(qdefs.toDF("vec_id", "terms"), Seq("vec_id"))
      .select(col("vec_id"), col("terms"), col("embedding"))
    val multi = graft.ops.Retrieval.hybridRrfMulti(docs, e, qframe).collect()
    qdefs.foreach { case (vid, terms) =>
      val single = graft.ops.Retrieval.hybridRrf(docs, e, terms, vid)
        .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSeq
      val ours = multi.filter(_.getLong(0) == vid).sortBy(_.getLong(1))
        .map(r => (r.get(2), r.get(3), r.get(4), r.get(5))).toSeq
      assert(ours == single,
        s"qid $vid: the multi kernel must replay the single-query fusion")
    }
    val model = graft.ops.Ivf.Flat(graft.ops.Ivf.train(e, 8, iters = 1))
    val ivf = graft.ops.Retrieval
      .hybridRrfIvf(docs, e, qframe, model, nprobe = 8)
      .collect().map(_.toString).sorted
    assert(ivf.sameElements(multi.map(_.toString).sorted),
      "all cells probed ⇒ the index face equals the exact face")
  }

  test("mmr_rerank: step 1 is pure relevance; step 2 trades rank for diversity") {
    // q = [1,0,0]; A (id 1) and its exact copy A' (id 2) plus the
    // mirror-image B (id 3) all have rel 0.9 — pure relevance would
    // emit A, A' (smaller ids on the tie); MMR penalizes A' by
    // sim(A',A)=1.0 (score 0.63−0.3=0.33) and B only by
    // sim(B,A)=0.62 (score 0.63−0.186=0.444), so the order is 1, 3, 2
    val y = math.sqrt(1.0 - 0.81)
    val e = emb(
      0L -> Array(1.0, 0.0, 0.0),
      1L -> Array(0.9, y, 0.0),
      2L -> Array(0.9, y, 0.0),
      3L -> Array(0.9, -y, 0.0))
    val out = graft.ops.Retrieval
      .mmrRerank(spark, e, e.where(col("vec_id") === 0L), n = 8, k = 3)
      .orderBy("step").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L), (2L, 3L), (3L, 2L)))
    // step 1 score = round(0.7 * rel, 6), rel = round(cos, 6) = 0.9
    assert(out.head.getDouble(3) == 0.63)
    // step 2: B's penalty is sim(A,B) = 0.62 exactly (0.81 − 0.19)
    assert(out(1).getDouble(3) ==
      BigDecimal(0.7 * 0.9 - 0.3 * 0.62)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("mmr_rerank emits at most k rows per query, all distinct docs") {
    val e = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val out = graft.ops.Retrieval
      .mmrRerank(spark, e, e.where(col("vec_id") < 3), n = 8, k = 4)
      .collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.length <= 4)
      val ids = rows.map(_.getLong(2))
      assert(ids.distinct.length == ids.length)
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length))
    }
  }

  test("source_minhash: identical sources estimate 1.0, disjoint ≈ 0, " +
    "half-overlap tracks exact Jaccard") {
    val r = new scala.util.Random(7)
    def text(seed: Int) =
      (0 until 100).map(i => s"w${seed}_${r.nextInt(50)}_$i").mkString(" ")
    val t1 = text(1); val t2 = text(2); val t3 = text(3)
    val docs = Seq(
      (1L, t1, "s1"), (2L, t2, "s1"),
      (3L, t1, "s2"), (4L, t2, "s2"), // s2 == s1 exactly
      (5L, t3, "s3"), // s3 disjoint
      (6L, t1, "s4"), (7L, t3, "s4") // s4 shares t1 with s1, t3 with s3
    ).toDF("doc_id", "text", "source")
    val out = graft.ops.Dedup.sourceMinhash(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out(("s1", "s2")) == 1.0)
    assert(out(("s1", "s3")) < 0.2)
    // exact shingle-set Jaccard(s1, s4) = |t1| / (|t1|+|t2|+|t3|) = 1/3
    // (three disjoint 98-shingle sets); 128-perm std err ≈ 0.042
    assert(math.abs(out(("s1", "s4")) - 1.0 / 3) < 0.15)
    // complete zero-filled spine: all 6 source pairs present
    assert(out.size == 6)
  }
}
