package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval fusion over the corpus — the two post-retrieval operators a
  * training-data/RAG pipeline runs on top of the lexical (ops.Bm25) and
  * semantic (ops.Similarity / ops.Ivf) search faces it already has:
  *
  *  - `hybridRrf`: Reciprocal Rank Fusion (Cormack/Clarke/Buettcher,
  *    SIGIR'09) of the BM25 ranking and the exact-cosine ranking —
  *    score(d) = Σ_lists 1/(c + rank_list(d)), the standard zero-tuning
  *    way to combine incomparable score scales (BM25 sums vs cosines).
  *  - `mmrRerank`: Maximal Marginal Relevance (Carbonell & Goldstein,
  *    SIGIR'98) diversification of a candidate list — greedily pick
  *    argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), the de-duplicating
  *    re-rank that keeps a RAG context window from filling with five
  *    copies of the same paragraph.
  *
  * Scale shapes: both operate on RANK-BOUNDED candidate frames (n per
  * query), never the corpus. hybridRrf's branches are the already-scale-
  * shaped search operators (BM25's TakeOrdered heap; the ANN bounded
  * top-k partial aggregate); the fusion join touches ≤ 2n rows. mmrRerank
  * needs candidate-pair similarities — n(n−1) rows PER QUERY, dim-scale
  * by construction — and runs the greedy loop as k−1 rounds of broadcast-
  * size equi-joins + one max_by aggregation each: the selection state is
  * a (qid, step) frame, never driver-side, so 10 queries or 10 million
  * rerank with the same plan.
  */
object Retrieval {

  /** Top-k docs by RRF over the BM25 top-n for `terms` and the exact
    * cosine top-n for query vector `queryVecId`. A doc absent from one
    * list contributes only the other list's reciprocal rank (the
    * standard RRF convention). Output: (doc_id, lex_rn, sem_rn, rrf),
    * ranks null where the doc missed that list.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, terms: Seq[String],
                queryVecId: Long, n: Int = 20, k: Int = 10,
                c: Int = 60): DataFrame = {
    val spark = docs.sparkSession
    // lexical branch: BM25 scores → bounded top-n heap (constant qid —
    // one query; the aggregate is still the per-partition O(n) heap)
    val lexTop = Similarity.topK(
      Bm25.scores(docs, terms)
        .select(lit(0L).as("qid"), col("doc_id").as("id2"),
          col("score").as("cos")), n)
      .select(col("id2").as("doc_id"), col("rn").as("lex_rn"))
    // semantic branch: exact cosine top-n for the one query vector
    val semTop = Similarity
      .bruteForceTopK(spark, emb, emb.where(col("vec_id") === queryVecId), n)
      .select(col("id2").as("doc_id"), col("rn").as("sem_rn"))
    lexTop.join(semTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rn"), col("sem_rn"),
        round(
          coalesce(lit(1.0) / (lit(c) + col("lex_rn")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(c) + col("sem_rn")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(k)
  }

  /** Multi-query hybrid RRF — the serving kernel under
    * [[graft.streaming.StreamingHybridServe]]: a BATCH of hybrid queries
    * (vec_id, terms: array<string>, embedding) fused in one pass.
    * Lexical branch: [[Bm25.scoresMulti]] — ONE corpus postings scan for
    * the whole batch, query terms broadcast. Semantic branch: exact
    * cosine top-n per query (queries broadcast into the corpus scan).
    * Fusion math is [[hybridRrf]]'s verbatim; per-qid results equal the
    * single-query path (spec-pinned). Output: (qid, rn, doc_id, lex_rn,
    * sem_rn, rrf), rn the per-qid RRF rank (ties to the smaller doc_id).
    */
  def hybridRrfMulti(docs: DataFrame, emb: DataFrame, queries: DataFrame,
                     n: Int = 20, k: Int = 10, c: Int = 60): DataFrame = {
    val semTop = Similarity
      .bruteForceTopK(docs.sparkSession, emb, queries, n)
      .select(col("qid"), col("id2").as("doc_id"), col("rn").as("sem_rn"))
    fuse(lexTopMulti(docs, queries, n), semTop, k, c)
  }

  /** [[hybridRrfMulti]] with the semantic branch served by a PRE-TRAINED
    * IVF quantizer ([[Ivf.searchTopK]] — probes prune the corpus to
    * `nprobe` cells) instead of the exact scan: the scale path a serving
    * job runs against a persisted index. Probing every cell degenerates
    * to the exact scan, so results then equal [[hybridRrfMulti]] (the
    * spec's equality anchor).
    */
  def hybridRrfIvf(docs: DataFrame, emb: DataFrame, queries: DataFrame,
                   quantizer: Ivf.Quantizer, nprobe: Int = 4,
                   n: Int = 20, k: Int = 10, c: Int = 60): DataFrame = {
    val semTop = Ivf.searchTopK(emb, quantizer, queries, n, nprobe)
      .select(col("qid"), col("id2").as("doc_id"), col("rn").as("sem_rn"))
    fuse(lexTopMulti(docs, queries, n), semTop, k, c)
  }

  /** Per-qid BM25 top-n over the batch's exploded (qid, term) frame. */
  private def lexTopMulti(docs: DataFrame, queries: DataFrame,
                          n: Int): DataFrame =
    Similarity.topK(
      Bm25.scoresMulti(docs,
        queries.select(col("vec_id").as("qid"), explode(col("terms")).as("term")))
        .select(col("qid"), col("doc_id").as("id2"), col("score").as("cos")), n)
      .select(col("qid"), col("id2").as("doc_id"), col("rn").as("lex_rn"))

  /** RRF fusion + per-qid top-k close shared by the multi faces: the
    * full-outer rank join touches ≤ 2n rows per qid; the k-cut is the
    * bounded-heap TopKByScore aggregate ((rrf desc, doc_id asc) — the
    * single-query orderBy contract), never a global sort; the rank
    * re-attach join is top-k-bounded.
    */
  private def fuse(lexTop: DataFrame, semTop: DataFrame, k: Int,
                   c: Int): DataFrame = {
    val fused = lexTop.join(semTop, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"), col("lex_rn"), col("sem_rn"),
        round(
          coalesce(lit(1.0) / (lit(c) + col("lex_rn")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(c) + col("sem_rn")), lit(0.0)), 6)
          .as("rrf"))
    Similarity.topK(
        fused.select(col("qid"), col("doc_id").as("id2"), col("rrf").as("cos")), k)
      .select(col("qid"), col("id2").as("doc_id"), col("rn"))
      .join(fused, Seq("qid", "doc_id"))
      .select(col("qid"), col("rn"), col("doc_id"),
        col("lex_rn"), col("sem_rn"), col("rrf"))
  }

  /** MMR-diversified top-k per query: exact cosine top-n candidates,
    * then k greedy steps of λ·rel − μ·max-sim-to-selected (μ passed
    * explicitly, NOT computed as 1−λ — 1.0−0.7 is 0.30000000000000004 in
    * IEEE doubles and the oracle writes the literal 0.3). Output:
    * (qid, step, doc_id, score); step 1 is the pure-relevance pick
    * (max-sim term 0 by definition). Ties break to the smaller doc_id.
    *
    * The MMR score is computed in EXACT DECIMAL, not doubles: rel and
    * maxsim are 6-decimal quantities by construction, so λ·rel − μ·maxsim
    * is an exact 7-decimal value — which lands ON the 5e-7 round-to-6
    * boundary whenever the 7th digit is 5, exactly where engines' double
    * rounding paths disagree (found by the sf0.01 oracle: 0.2600395 →
    * Spark 0.26004, DuckDB 0.260039). Decimal in, decimal round, THEN
    * one cast to double — both engines see the identical value.
    */
  def mmrRerank(spark: SparkSession, emb: DataFrame, queries: DataFrame,
                n: Int = 8, k: Int = 4, lambda: BigDecimal = BigDecimal("0.7"),
                mu: BigDecimal = BigDecimal("0.3")): DataFrame = {
    val e = emb.where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // exact top-n per query, vectors re-attached for the pair matrix
    val cand = graft.core.Materialize.once(
      Similarity.bruteForceTopK(spark, emb, queries, n)
        .join(e, col("id2") === col("vec_id"))
        .select(col("qid"), col("id2").as("doc_id"), col("cos").as("rel"),
          col("v")))
    // candidate-pair similarity matrix: n(n−1) rows per query, computed
    // once — the greedy loop below never touches a vector again
    val pairs = graft.core.Materialize.once(
      cand.select(col("qid"), col("doc_id").as("a"), col("v").as("va"))
        .join(cand.select(col("qid"), col("doc_id").as("b"), col("v").as("vb")),
          Seq("qid"))
        .where(col("a") =!= col("b"))
        .select(col("qid"), col("a"), col("b"),
          round(Similarity.cosine(col("va"), col("vb")), 6)
            .cast(org.apache.spark.sql.types.DecimalType(8, 6)).as("sim")))
    val rels = cand.select(col("qid"), col("doc_id"),
      col("rel").cast(org.apache.spark.sql.types.DecimalType(8, 6)).as("rel"))

    // per-qid argmax by (score desc, doc_id asc) — a max_by aggregation,
    // not a window (one row per qid survives)
    def argmax(scored: DataFrame): DataFrame =
      scored.groupBy(col("qid"))
        .agg(max_by(struct(col("doc_id"), col("score")),
          struct(col("score"), (-col("doc_id")).as("nid"))).as("w"))
        .select(col("qid"), col("w.doc_id").as("doc_id"),
          col("w.score").as("score"))

    // each step's pick is CUT (it is |queries| rows): without the cut the
    // selection lineage chains every prior step's joins, so step k
    // re-executes steps 1..k−1 — measured 3.9 → 1.1 s at sf0.1 (the
    // frames are tiny; the cost was pure plan re-execution)
    var selected = graft.core.Materialize.once(argmax(
      rels.select(col("qid"), col("doc_id"),
        round(lit(lambda) * col("rel"), 6).cast("double").as("score")))
      .withColumn("step", lit(1L)))
    var all = selected
    for (step <- 2 to k) {
      val selIds = all.select(col("qid"), col("doc_id"))
      val maxsim = pairs
        .join(selIds.withColumnRenamed("doc_id", "b"), Seq("qid", "b"))
        .join(selIds.withColumnRenamed("doc_id", "a"), Seq("qid", "a"),
          "left_anti")
        .groupBy(col("qid"), col("a")).agg(max(col("sim")).as("maxsim"))
      val scored = maxsim
        .join(rels.withColumnRenamed("doc_id", "a"), Seq("qid", "a"))
        .select(col("qid"), col("a").as("doc_id"),
          round(lit(lambda) * col("rel") - lit(mu) * col("maxsim"), 6)
            .cast("double").as("score"))
      selected = graft.core.Materialize.once(
        argmax(scored).withColumn("step", lit(step.toLong)))
      all = all.unionByName(selected)
    }
    all.select(col("qid"), col("step"), col("doc_id"), col("score"))
  }
}
