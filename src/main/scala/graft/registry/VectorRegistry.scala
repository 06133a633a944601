package graft.registry

import graft.core.{Tables, Timeframe}
import graft.ohlcv.{Analytics, Candles, Microstructure, Studies}
import graft.operators.AsofJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Query
import graft.SparkEntry._

/** Embedding operators: ANN, PQ, semantic dedup, kNN graph, classifier, fusion (SURVEY §2.D).
  *
  * The cell-routed `Ivf` faces take their quantizer from the build: the
  * flat queries run under `onFlat` (16 seed cells), the `*_2level`
  * queries under `onTwoLevel` (TL_K × TL_K, trained on the same frame,
  * so the face reuses the training's L1 assignment) or an explicit
  * `trainTwoLevel` model for the IVF-PQ searches.
  *
  * Each `Query` holds a Spark build next to its DuckDB oracle;
  * `SparkEntry.queries` indexes the eight registries by name. Shared
  * oracle fragments stay in SparkEntry (imported above).
  */
private[graft] object VectorRegistry {

  // The ONE 4×4 configuration constant shared by the two-level
  // registry builds AND the SQL replay below — interpolated into the CTE
  // string so changing either side alone is impossible (the oracle and
  // the query cannot silently diverge onto different cell structures).
  private val TL_K = 4

  // The ONE oversized-cell cap shared by the semantic_dedup Scala faces
  // and their SQL replays (same cross-wiring rationale as TL_K). 64 keeps
  // sf0.1's ~125-member average cells ON the capped path, so the oracle
  // gate genuinely exercises the representative logic, not just the
  // small-cell identity case.
  private val SD_MAXCELL = 64

  /** Run a cell-routed `Ivf` face on `e` under the 16-cell flat seed
    * quantizer (`train(e, 16, iters = 0)`) the flat oracles replay. */
  private def onFlat(e: DataFrame)(
      face: (DataFrame, graft.ops.Ivf.Quantizer) => DataFrame): DataFrame =
    face(e, graft.ops.Ivf.Flat(graft.ops.Ivf.train(e, 16, iters = 0)))

  /** The same under the TL_K × TL_K two-level quantizer trained on `e`:
    * the face sub-assigns the training's own L1 cut (one routing scan). */
  private def onTwoLevel(e: DataFrame)(
      face: (DataFrame, graft.ops.Ivf.Quantizer) => DataFrame): DataFrame =
    face(e, graft.ops.Ivf.trainTwoLevel(e, TL_K, TL_K))

  /** The cellPairsCapped replay (Ivf.scala): per-cell ≤ SD_MAXCELL
    * representatives in portable (md5-prefix, vec_id) order; rep×rep
    * (id1 < id2) plus nonrep→rep attach pairs, both verified at the
    * rounded-cosine threshold. `src` must expose (vec_id, v, cellCol).
    * Emits the reps/nonreps/pairs CTE chain ending in pairs(id1, id2),
    * with a trailing ", ".
    */
  private def cappedPairsSql(src: String, cellCol: String): String =
    s"reps AS (SELECT $cellCol AS rcid, vec_id, v FROM (" +
      s"SELECT $cellCol, vec_id, v, row_number() OVER (PARTITION BY $cellCol " +
      "ORDER BY CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,8) AS BIGINT), vec_id) AS hr " +
      s"FROM $src) WHERE hr <= $SD_MAXCELL), " +
      s"nonreps AS (SELECT a.$cellCol AS rcid, a.vec_id, a.v FROM $src a " +
      s"LEFT JOIN reps r ON r.rcid = a.$cellCol AND r.vec_id = a.vec_id " +
      "WHERE r.vec_id IS NULL), " +
      "pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2 FROM reps a " +
      "JOIN reps b ON a.rcid = b.rcid AND a.vec_id < b.vec_id " +
      "WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4 " +
      "UNION ALL SELECT LEAST(m.vec_id, r.vec_id), GREATEST(m.vec_id, r.vec_id) " +
      "FROM nonreps m JOIN reps r ON r.rcid = m.rcid " +
      "WHERE round(list_cosine_similarity(m.v, r.v), 6) >= 0.4), "

  // Two-level (TL_K × TL_K) quantizer replay shared by the 2level faces:
  // L1 = the knn_graph seed/assignment CTEs at k1=TL_K; sub-centroids =
  // the FULL k1·k2 padded matrix exactly as trainTwoLevel lays it out
  // (scid = cid·TL_K + slot): each L1 cell's TL_K lowest vec_ids,
  // under-full cells repeating their LAST real seed, empty cells falling
  // back to the L1 centroid. Padding never changes ASSIGNMENT (a padded
  // duplicate ties with its source and loses on the scid tiebreak) but
  // probe RANKING over sub-cells legitimately sees the padded slots —
  // the IVF-PQ faces rank probes over this table, so it must mirror the
  // Spark side's matrix slot-for-slot. Sub-assignment = ranked join
  // against the OWN cell's block only.
  private val TwoLevelBaseSql: String =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
      s"FROM e ORDER BY vec_id LIMIT $TL_K), " +
      "assigned AS (SELECT vec_id, v, cid FROM (" +
      "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
      "FROM e CROSS JOIN cents c) WHERE arn = 1), " +
      "subcents0 AS (SELECT cid, v AS svec, srn FROM (" +
      "SELECT cid, v, row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS srn " +
      s"FROM assigned) WHERE srn <= $TL_K), " +
      "scnt AS (SELECT cid, max(srn) AS mx FROM subcents0 GROUP BY 1), " +
      "slots AS (SELECT c.cid, c.cvec, gs.slot FROM cents c CROSS JOIN (" +
      s"SELECT unnest(generate_series(1, $TL_K)) AS slot) gs), " +
      s"subcents AS (SELECT sl.cid, CAST(sl.cid * $TL_K + sl.slot - 1 AS INTEGER) AS scid, " +
      "COALESCE(s0.svec, sl.cvec) AS svec FROM slots sl " +
      "LEFT JOIN scnt ON scnt.cid = sl.cid " +
      "LEFT JOIN subcents0 s0 ON s0.cid = sl.cid AND s0.srn = LEAST(sl.slot, scnt.mx)), " +
      "sassigned AS (SELECT vec_id, v, scid FROM (" +
      "SELECT a.vec_id, a.v, sc.scid, row_number() OVER (PARTITION BY a.vec_id " +
      "ORDER BY round(list_cosine_similarity(a.v, sc.svec), 6) DESC, sc.scid) AS srn2 " +
      "FROM assigned a JOIN subcents sc ON sc.cid = a.cid) WHERE srn2 = 1)"

  private val TwoLevelAssignSql: String =
    TwoLevelBaseSql + ", " +
      graft.SparkEntry.knnCandSql("sassigned", "scid")

  /** DuckDB replay of Ivf.ivfPqSearch on the two-level quantizer: the
    * base CTEs route residuals to SUB-centroids, the shared residual-PQ
    * chain (SparkEntry.pqResidualCtes) trains/codes against them, and the
    * probe is hierarchical — the model's nprobe1 L1 blocks, then the best
    * `nprobe` sub-cells across those blocks' PADDED slots (the
    * trainTwoLevel matrix).
    */
  private def ivfPqTwoLevelCtes(m: Int, k: Int, dim: Int,
                                nprobe1: Int, nprobe: Int): String =
    "WITH " + TwoLevelBaseSql + ", " +
      "resid AS MATERIALIZED (SELECT a.vec_id, a.v, CAST(a.scid AS INTEGER) AS cid, " +
      s"list_transform(generate_series(1, $dim), i -> a.v[i] - sc.svec[i]) AS res " +
      "FROM sassigned a JOIN subcents sc ON sc.scid = a.scid), " +
      graft.SparkEntry.pqResidualCtes(m, k, dim,
        baseJoin = "JOIN subcents cc ON cc.scid = resid.cid",
        baseVec = "cc.svec") + ", " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
      "probes1 AS (SELECT qid, qv, cid FROM (" +
      "SELECT q.qid, q.qv, c.cid, row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC, c.cid) AS prn " +
      s"FROM q CROSS JOIN cents c) WHERE prn <= $nprobe1), " +
      "probes AS (SELECT qid, qv, scid FROM (" +
      "SELECT p1.qid, p1.qv, sc.scid, row_number() OVER (PARTITION BY p1.qid " +
      "ORDER BY round(list_cosine_similarity(p1.qv, sc.svec), 6) DESC, sc.scid) AS prn2 " +
      s"FROM probes1 p1 JOIN subcents sc ON sc.cid = p1.cid) WHERE prn2 <= $nprobe)"

  // the unfiltered candidate CTE appended by the search/rerank replays
  // (the filtered face builds its own over the predicate-filtered index)
  private val TwoLevelCandSql: String =
    ", cand AS (SELECT p.qid, r.vec_id AS id2, " +
      "round(list_cosine_similarity(p.qv, r.recon), 6) AS cos " +
      "FROM r JOIN probes p ON r.cid = p.scid WHERE r.vec_id <> p.qid)"

  private def ivfPqTwoLevelOracleSql(m: Int, k: Int, dim: Int, nprobe1: Int,
                                     nprobe: Int, topK: Int): String =
    ivfPqTwoLevelCtes(m, k, dim, nprobe1, nprobe) + TwoLevelCandSql + " " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM cand) WHERE rn <= $topK"

  /** DuckDB replay of Ivf.ivfPqSearchFiltered on the two-level quantizer: the
    * encode chain, index rows filtered by the metadata join, hierarchical
    * probes + rescue both scoring ADC reconstructions — the flat
    * ivfPqFilteredOracleSql shape on the padded two-level CTEs.
    */
  /** Two-level filtered-PQ replay in the bounded shape of
    * SparkEntry.ivfPqFilteredOracleSql (r14 verdict ask #2): shared CTEs
    * MATERIALIZED against DuckDB's per-reference inlining, each branch
    * cut per query to topK by the final ordering keys inside its own
    * CTE — output-identical (a query's fin rows come from exactly one
    * branch), never a carried |underfilled|×|survivors| cross-score.
    */
  private def ivfPqTwoLevelFilteredOracleSql(m: Int, k: Int, dim: Int,
                                             nprobe1: Int, nprobe: Int,
                                             topK: Int, label: Int): String =
    ivfPqTwoLevelCtes(m, k, dim, nprobe1, nprobe) + ", " +
      "lbl AS (SELECT vec_id, label FROM embeddings), " +
      "rs AS MATERIALIZED (SELECT r.vec_id, r.cid, r.recon FROM r " +
      s"JOIN lbl ON lbl.vec_id = r.vec_id WHERE lbl.label = $label), " +
      "cand AS MATERIALIZED (SELECT p.qid, rs.vec_id AS id2, " +
      "round(list_cosine_similarity(p.qv, rs.recon), 6) AS cos " +
      "FROM rs JOIN probes p ON rs.cid = p.scid WHERE rs.vec_id <> p.qid), " +
      "cnt AS (SELECT qid, count(*) AS n FROM cand GROUP BY 1), " +
      "under AS MATERIALIZED (SELECT q.qid, q.qv FROM q LEFT JOIN cnt ON cnt.qid = q.qid " +
      s"WHERE coalesce(cnt.n, 0) < $topK), " +
      "cand_top AS (SELECT qid, id2, cos FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, id2) AS crn FROM cand " +
      s"WHERE qid NOT IN (SELECT qid FROM under)) WHERE crn <= $topK), " +
      "resc AS (SELECT qid, id2, cos FROM (" +
      "SELECT u.qid, rs.vec_id AS id2, " +
      "round(list_cosine_similarity(u.qv, rs.recon), 6) AS cos, " +
      "row_number() OVER (PARTITION BY u.qid " +
      "ORDER BY round(list_cosine_similarity(u.qv, rs.recon), 6) DESC, rs.vec_id) AS rrn " +
      s"FROM rs JOIN under u ON rs.vec_id <> u.qid) WHERE rrn <= $topK), " +
      "fin AS (SELECT * FROM cand_top UNION ALL SELECT * FROM resc) " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM fin) WHERE rn <= $topK"

  private def ivfPqTwoLevelRerankOracleSql(m: Int, k: Int, dim: Int,
                                           nprobe1: Int, nprobe: Int,
                                           topK: Int, kFactor: Int): String =
    ivfPqTwoLevelCtes(m, k, dim, nprobe1, nprobe) + TwoLevelCandSql + ", " +
      "adc AS (SELECT qid, id2 FROM (" +
      "SELECT qid, id2, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM cand) WHERE rn <= ${topK * kFactor}), " +
      "rer AS (SELECT a.qid, a.id2, " +
      "round(list_cosine_similarity(q.qv, e2.v), 6) AS cos " +
      "FROM adc a JOIN q ON q.qid = a.qid JOIN e e2 ON e2.vec_id = a.id2) " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM rer) WHERE rn <= $topK"

  val queries: Seq[Query] = Seq(
    Query("embed_neardup", (s, dir) =>
      graft.ops.Similarity.nearDupPairs(s, Tables.table(s, dir, "embeddings"), 0.4),
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) " +
        "SELECT a.vec_id AS id1, b.vec_id AS id2, " +
        "round(list_cosine_similarity(a.v, b.v), 6) AS cos " +
        "FROM e a JOIN e b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4"),
    Query("embedding_profile", (s, dir) =>
      graft.ops.Similarity.embeddingProfile(Tables.table(s, dir, "embeddings")),
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "x AS (SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM e) " +
        "SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n, min(x) AS min_x, max(x) AS max_x, " +
        "round(CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*), 6) AS mean_x " +
        "FROM x GROUP BY 1"),
    Query("ann_topk", (s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
      graft.ops.Similarity.bruteForceTopK(s, e, e.where(col("vec_id") < 10), 5)
    },
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "q AS (SELECT * FROM e WHERE vec_id < 10) " +
        "SELECT qid, id2, cos, rn FROM (" +
        "SELECT q.vec_id AS qid, e.vec_id AS id2, " +
        "round(list_cosine_similarity(q.v, e.v), 6) AS cos, " +
        "CAST(row_number() OVER (PARTITION BY q.vec_id " +
        "ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC, e.vec_id) AS BIGINT) AS rn " +
        "FROM q JOIN e ON e.vec_id <> q.vec_id) WHERE rn <= 5"),
    Query("ann_lsh", (s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
      graft.ops.Similarity.lshTopK(s, e, e.where(col("vec_id") < 10), 5)
    },
      annLshOracleSql(k = 5, numPlanes = 6)),
    Query("ann_lsh_multi", (s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
      graft.ops.Similarity.lshTopKMulti(s, e, e.where(col("vec_id") < 10), 5)
    },
      annLshMultiOracleSql(k = 5, numPlanes = 6, numTables = 4)),
    Query("ann_ivf", (s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
      onFlat(e)(graft.ops.Ivf.searchTopK(_, _, e.where(col("vec_id") < 10), 5))
    },
      annIvfOracleSql(k = 5, numCells = 16, nprobe = 4)),
    Query("ann_recall", (s, dir) => {
      // index-quality monitor: recall@5 of the IVF probe scan vs exact
      // brute force, per query — ONE materialized corpus scan feeds both
      // branches, overlap joins two |q|·k frames (broadcast)
      val e = Tables.table(s, dir, "embeddings")
      onFlat(e)(graft.ops.Ivf.annRecall(_, _, e.where(col("vec_id") < 10), 5))
    },
      // recall@k monitor: the ann_topk brute CTE and the ann_ivf probe
      // CTEs (same seeds/assign/probes templates), overlap-joined per query
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        "brute AS (SELECT qid, id2 FROM (" +
        "SELECT q.qid, e.vec_id AS id2, row_number() OVER (PARTITION BY q.qid " +
        "ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC, e.vec_id) AS rn " +
        "FROM q JOIN e ON e.vec_id <> q.qid) WHERE rn <= 5), " +
        "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
        "FROM e ORDER BY vec_id LIMIT 16), " +
        "assigned AS (SELECT vec_id, v, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
        "FROM e CROSS JOIN cents c) WHERE arn = 1), " +
        "probes AS (SELECT qid, qv, cid FROM (" +
        "SELECT q.qid, q.qv, c.cid, row_number() OVER (PARTITION BY q.qid " +
        "ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC, c.cid) AS prn " +
        "FROM q CROSS JOIN cents c) WHERE prn <= 4), " +
        "ivf AS (SELECT qid, id2 FROM (" +
        "SELECT p.qid, a.vec_id AS id2, row_number() OVER (PARTITION BY p.qid " +
        "ORDER BY round(list_cosine_similarity(p.qv, a.v), 6) DESC, a.vec_id) AS rn " +
        "FROM assigned a JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> p.qid) WHERE rn <= 5) " +
        "SELECT b.qid, count(*) AS n_brute, count(i.id2) AS n_hits, " +
        "round(CAST(count(i.id2) AS DOUBLE) / count(*), 6) AS recall " +
        "FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.id2 = i.id2 " +
        "GROUP BY 1"),
    Query("ann_ivf_trained", (s, dir) => {
      // 2 Lloyd rounds — exercises deterministic distributed k-means; the
      // oracle replays both rounds (decimal-exact centroid means)
      val e = Tables.table(s, dir, "embeddings")
      graft.ops.Ivf.searchTopK(e, graft.ops.Ivf.Flat(graft.ops.Ivf.train(e, 16, iters = 2)),
        e.where(col("vec_id") < 10), 5)
    },
      annIvfTrainedOracleSql(k = 5, numCells = 16, nprobe = 4, iters = 2)),
    Query("label_confusion", (s, dir) =>
      graft.ops.Ivf.labelConfusion(Tables.table(s, dir, "embeddings")),
      "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "cents AS (SELECT cid, list(xm ORDER BY pos) AS cvec FROM (" +
        "SELECT CAST(label AS INTEGER) AS cid, pos, " +
        "CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS xm FROM (" +
        "SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e) " +
        "GROUP BY 1, 2) GROUP BY cid), " +
        "assigned AS (SELECT vec_id, label, cid FROM (" +
        "SELECT e.vec_id, e.label, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
        "FROM e CROSS JOIN cents c) WHERE arn = 1) " +
        "SELECT label, CAST(cid AS BIGINT) AS pred_label, count(*) AS n " +
        "FROM assigned GROUP BY 1, 2"),
    Query("semantic_sample", (s, dir) =>
      // cluster-balanced deterministic subsample: every quantizer cell
      // contributes up to perCell vectors picked by portable hash order —
      // the diversity-preserving alternative to a uniform corpus sample
      onFlat(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.semanticSample(_, _)),
      // semanticSample replay: the ann_ivf seed/assignment CTEs + the
      // portable md5-prefix hash pick per cell (h asc, vec_id asc)
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
        "FROM e ORDER BY vec_id LIMIT 16), " +
        "assigned AS (SELECT vec_id, cid FROM (" +
        "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
        "FROM e CROSS JOIN cents c) WHERE arn = 1), " +
        "h AS (SELECT CAST(cid AS BIGINT) AS cid, vec_id, " +
        "CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,8) AS BIGINT) AS h FROM assigned) " +
        "SELECT cid, vec_id, CAST(rn AS BIGINT) AS rn FROM (" +
        "SELECT cid, vec_id, row_number() OVER (PARTITION BY cid ORDER BY h, vec_id) AS rn " +
        "FROM h) WHERE rn <= 20"),
    Query("semantic_neardup", (s, dir) =>
      // SemDeDup pass: exact cosine pairs WITHIN quantizer cells — the
      // cell join bounds pair generation at sum(|cell|^2), not n^2
      onFlat(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.semanticNearDup(_, _)),
      // semanticNearDup replay: the ann_ivf seed/assignment CTEs + a
      // within-cell triangular self-join at the rounded-cosine threshold
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
        "FROM e ORDER BY vec_id LIMIT 16), " +
        "assigned AS (SELECT vec_id, v, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
        "FROM e CROSS JOIN cents c) WHERE arn = 1) " +
        "SELECT CAST(a.cid AS BIGINT) AS cid, a.vec_id AS id1, b.vec_id AS id2, " +
        "round(list_cosine_similarity(a.v, b.v), 6) AS cos " +
        "FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4"),
    Query("semantic_dedup", (s, dir) =>
      // SemDeDup end-to-end: CAPPED within-cell pairs (<= SD_MAXCELL
      // hash-sampled representatives per cell — the oversized-cell guard
      // against O(m^2) boilerplate mega-clusters) -> connected components
      // -> keeper = farthest-from-centroid member (the curation decision)
      onFlat(Tables.table(s, dir, "embeddings"))(
        graft.ops.Ivf.semanticDedup(_, _, maxCell = SD_MAXCELL)),
      // semanticDedup replay: the semantic_neardup assignment CTEs + the
      // CAPPED pair feed (each cell's <= SD_MAXCELL md5-hash-order
      // representatives cross-pair; non-representatives attach to their
      // cell's representatives — cellPairsCapped's exact shape) + recursive
      // min-label reachability (the corpus_dedup CC mold) + the
      // farthest-from-centroid keeper (ccos asc, vec_id asc)
      "WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
        "FROM e ORDER BY vec_id LIMIT 16), " +
        "assigned AS (SELECT vec_id, v, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
        "FROM e CROSS JOIN cents c) WHERE arn = 1), " +
        cappedPairsSql("assigned", "cid") +
        "edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT a AS vec_id FROM edges), " +
        "comp AS (SELECT vec_id, vec_id AS lbl FROM nodes " +
        "UNION SELECT g.a AS vec_id, c.lbl FROM edges g JOIN comp c ON g.b = c.vec_id), " +
        "labels AS (SELECT vec_id, min(lbl) AS cluster_id FROM comp GROUP BY 1), " +
        "sc AS (SELECT a.vec_id, round(list_cosine_similarity(a.v, c.cvec), 6) AS ccos " +
        "FROM assigned a JOIN cents c ON c.cid = a.cid) " +
        "SELECT l.vec_id, l.cluster_id, " +
        "(row_number() OVER (PARTITION BY l.cluster_id ORDER BY s.ccos, l.vec_id) = 1) AS keep " +
        "FROM labels l JOIN sc s ON s.vec_id = l.vec_id"),
    Query("knn_graph", (s, dir) =>
      // approximate k-NN graph: every vector's top-5 within its quantizer
      // cell — candidates cell-bounded, selection via the bounded heap
      onFlat(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.knnGraph(_, _)),
      // knnGraph replay: the semantic_neardup assignment CTEs + the CAPPED
      // within-cell candidate join (knnCandSql — ≤ KnnMaxCand hash-order
      // candidates per cell) ranked per vector (cos desc, neighbor asc) ≤ k
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
        "FROM e ORDER BY vec_id LIMIT 16), " +
        "assigned AS (SELECT vec_id, v, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
        "FROM e CROSS JOIN cents c) WHERE arn = 1), " +
        graft.SparkEntry.knnCandSql("assigned", "cid").stripSuffix(", ") + " " +
        "SELECT vec_id, neighbor_id, cos, rn FROM (" +
        "SELECT vec_id, neighbor_id, cos, CAST(row_number() OVER (" +
        "PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn " +
        "FROM p) WHERE rn <= 5"),
    Query("knn_components", (s, dir) =>
      // mutual-kNN clustering: edges kept only when BOTH endpoints rank
      // each other top-k (hub pruning), then pointer-jumping CC
      onFlat(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.knnComponents(_, _)),
      // knnComponents replay: the knn_graph CTEs + the mutual filter + the
      // recursive min-label CC mold
      "WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
        "FROM e ORDER BY vec_id LIMIT 16), " +
        "assigned AS (SELECT vec_id, v, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
        "FROM e CROSS JOIN cents c) WHERE arn = 1), " +
        graft.SparkEntry.knnCandSql("assigned", "cid")
          .replace("p AS (", "p0 AS (") +
        "p AS (SELECT vec_id, neighbor_id FROM (" +
        "SELECT vec_id, neighbor_id, row_number() OVER (" +
        "PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn FROM p0) " +
        "WHERE rn <= 5), " +
        "mut AS (SELECT a.vec_id AS id1, a.neighbor_id AS id2 FROM p a " +
        "JOIN p b ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id " +
        "WHERE a.vec_id < a.neighbor_id), " +
        "edges AS (SELECT id1 AS a, id2 AS b FROM mut UNION SELECT id2, id1 FROM mut), " +
        "nodes AS (SELECT DISTINCT a AS vec_id FROM edges), " +
        "comp AS (SELECT vec_id, vec_id AS lbl FROM nodes " +
        "UNION SELECT g.a AS vec_id, c.lbl FROM edges g JOIN comp c ON g.b = c.vec_id) " +
        "SELECT vec_id, min(lbl) AS cluster_id FROM comp GROUP BY 1"),
    Query("knn_graph_2level", (s, dir) =>
      // knn_graph on the TWO-LEVEL quantizer (4×4 cells): per-row routing
      // costs k1+k2 flops, so effective cells can grow ∝ corpus at
      // constant cell size — the 100 TB configuration (ScaleProbe r12b)
      onTwoLevel(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.knnGraph(_, _)),
      "WITH " + TwoLevelAssignSql +
        "r AS (SELECT vec_id, neighbor_id, cos, CAST(row_number() OVER (" +
        "PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn FROM p) " +
        "SELECT vec_id, neighbor_id, cos, rn FROM r WHERE rn <= 5"),
    Query("knn_components_2level", (s, dir) =>
      // mutual-kNN components over the two-level cell structure — the
      // kernel unchanged (shared componentsOfGraph), only the cells scale
      onTwoLevel(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.knnComponents(_, _)),
      "WITH RECURSIVE " + TwoLevelAssignSql +
        "r AS (SELECT vec_id, neighbor_id FROM (" +
        "SELECT vec_id, neighbor_id, row_number() OVER (" +
        "PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn FROM p) " +
        "WHERE rn <= 5), " +
        "mut AS (SELECT a.vec_id AS id1, a.neighbor_id AS id2 FROM r a " +
        "JOIN r b ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id " +
        "WHERE a.vec_id < a.neighbor_id), " +
        "edges AS (SELECT id1 AS a, id2 AS b FROM mut UNION SELECT id2, id1 FROM mut), " +
        "nodes AS (SELECT DISTINCT a AS vec_id FROM edges), " +
        "comp AS (SELECT vec_id, vec_id AS lbl FROM nodes " +
        "UNION SELECT g.a AS vec_id, c.lbl FROM edges g JOIN comp c ON g.b = c.vec_id) " +
        "SELECT vec_id, min(lbl) AS cluster_id FROM comp GROUP BY 1"),
    Query("semantic_neardup_2level", (s, dir) =>
      // SemDeDup pairs over two-level cells: the Σ|cell|² bound at
      // CONSTANT cell size — n·c total pairs instead of flat √n's n^1.5
      onTwoLevel(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.semanticNearDup(_, _)),
      "WITH " + TwoLevelAssignSql +
        "pairs AS (SELECT CAST(a.scid AS BIGINT) AS cid, a.vec_id AS id1, " +
        "b.vec_id AS id2, round(list_cosine_similarity(a.v, b.v), 6) AS cos " +
        "FROM sassigned a JOIN sassigned b ON a.scid = b.scid AND a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4) " +
        "SELECT cid, id1, id2, cos FROM pairs"),
    Query("semantic_dedup_2level", (s, dir) =>
      // SemDeDup end-to-end over two-level cells (capped pair feed, same
      // SD_MAXCELL guard); keeper scored against its SUB-centroid (the
      // member's actual region prototype)
      onTwoLevel(Tables.table(s, dir, "embeddings"))(
        graft.ops.Ivf.semanticDedup(_, _, maxCell = SD_MAXCELL)),
      "WITH RECURSIVE " + TwoLevelAssignSql +
        cappedPairsSql("sassigned", "scid") +
        "edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT a AS vec_id FROM edges), " +
        "comp AS (SELECT vec_id, vec_id AS lbl FROM nodes " +
        "UNION SELECT g.a AS vec_id, c.lbl FROM edges g JOIN comp c ON g.b = c.vec_id), " +
        "labels AS (SELECT vec_id, min(lbl) AS cluster_id FROM comp GROUP BY 1), " +
        "sc AS (SELECT a.vec_id, round(list_cosine_similarity(a.v, s.svec), 6) AS ccos " +
        "FROM sassigned a JOIN subcents s ON s.scid = a.scid) " +
        "SELECT l.vec_id, l.cluster_id, (row_number() OVER (" +
        "PARTITION BY l.cluster_id ORDER BY s.ccos, l.vec_id) = 1) AS keep " +
        "FROM labels l JOIN sc s ON s.vec_id = l.vec_id"),
    Query("knn_pagerank", (s, dir) =>
      // integer-scaled fixed-iteration PageRank over the kNN graph —
      // centrality for density-weighted curation; every intermediate an
      // exact BIGINT so any engine/partitioning replays bit-identically
      graft.ops.Graph.pageRank(
        onFlat(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.knnGraph(_, _))
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst")))
        .select(col("v").as("vec_id"), col("pr")),
      KnnGraphSql +
        "nodes AS (SELECT src AS nv FROM g UNION SELECT dst FROM g), " +
        "outd AS (SELECT src, count(*) AS d FROM g GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM nodes), " +
        "p0 AS (SELECT nv, CAST(1000000000 // n AS BIGINT) AS pr FROM nodes CROSS JOIN nn), " +
        "s1 AS (SELECT g.dst AS nv, CAST(sum(p0.pr // o.d) AS BIGINT) AS s " +
        "FROM g JOIN p0 ON p0.nv = g.src JOIN outd o ON o.src = g.src GROUP BY 1), " +
        "p1 AS (SELECT nodes.nv, CAST((150000000 // nn.n) + (85 * COALESCE(s1.s, 0)) // 100 AS BIGINT) AS pr " +
        "FROM nodes CROSS JOIN nn LEFT JOIN s1 ON s1.nv = nodes.nv), " +
        "s2 AS (SELECT g.dst AS nv, CAST(sum(p1.pr // o.d) AS BIGINT) AS s " +
        "FROM g JOIN p1 ON p1.nv = g.src JOIN outd o ON o.src = g.src GROUP BY 1), " +
        "p2 AS (SELECT nodes.nv, CAST((150000000 // nn.n) + (85 * COALESCE(s2.s, 0)) // 100 AS BIGINT) AS pr " +
        "FROM nodes CROSS JOIN nn LEFT JOIN s2 ON s2.nv = nodes.nv), " +
        "s3 AS (SELECT g.dst AS nv, CAST(sum(p2.pr // o.d) AS BIGINT) AS s " +
        "FROM g JOIN p2 ON p2.nv = g.src JOIN outd o ON o.src = g.src GROUP BY 1), " +
        "p3 AS (SELECT nodes.nv, CAST((150000000 // nn.n) + (85 * COALESCE(s3.s, 0)) // 100 AS BIGINT) AS pr " +
        "FROM nodes CROSS JOIN nn LEFT JOIN s3 ON s3.nv = nodes.nv) " +
        "SELECT nv AS vec_id, pr FROM p3"),
    Query("knn_communities", (s, dir) =>
      // deterministic synchronous label propagation over the kNN graph:
      // min-label tie-break, fixed rounds, integer argmax — communities
      // without a target count (CC over-merges through any bridge)
      graft.ops.Graph.labelPropagation(
        onFlat(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.knnGraph(_, _))
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst")))
        .select(col("v").as("vec_id"), col("label")),
      // LPA replay: same kNN graph CTEs, symmetrized distinct edges, then
      // the unrolled vote/argmax rounds (cnt DESC, label ASC == the
      // max(struct(cnt, -label)) tie-break)
      KnnGraphSql +
        "sym AS (SELECT DISTINCT src, dst FROM (" +
        "SELECT src, dst FROM g WHERE src <> dst " +
        "UNION ALL SELECT dst, src FROM g WHERE src <> dst)), " +
        "nodes AS (SELECT DISTINCT src AS nv FROM sym), " +
        "l0 AS (SELECT nv, nv AS label FROM nodes), " +
        lpaRoundsSql(5) +
        " SELECT nv AS vec_id, label FROM l5"),
    Query("knn_triangles", (s, dir) =>
      // degree-ordered triangle counting + clustering coefficients over
      // the kNN graph: wedges only at each edge's lower-(deg,id) source,
      // closure a semi equi-join — hub fan-out bounded, no pair blowup
      graft.ops.Graph.triangles(
        onFlat(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.knnGraph(_, _))
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))),
      // triangle replay: same canonical undirected set, same (deg, id)
      // orientation, wedges at the oriented source closed by an equi-join
      // semi against the canonical edges; coefficients 2T/(d(d-1))
      KnnGraphSql +
        "und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM g WHERE src <> dst), " +
        "dg AS (SELECT x, count(*) AS deg FROM (" +
        "SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und) GROUP BY 1), " +
        "orient AS (SELECT CASE WHEN dv.deg < du.deg THEN und.v ELSE und.u END AS a, " +
        "CASE WHEN dv.deg < du.deg THEN und.u ELSE und.v END AS b " +
        "FROM und JOIN dg du ON und.u = du.x JOIN dg dv ON und.v = dv.x), " +
        "tri AS (SELECT w1.a, w1.b AS u, w2.b AS v FROM orient w1 " +
        "JOIN orient w2 ON w1.a = w2.a AND w1.b < w2.b " +
        "WHERE EXISTS (SELECT 1 FROM und WHERE und.u = w1.b AND und.v = w2.b)), " +
        "pn AS (SELECT x, count(*) AS t FROM (" +
        "SELECT a AS x FROM tri UNION ALL SELECT u AS x FROM tri UNION ALL SELECT v AS x FROM tri) GROUP BY 1) " +
        "SELECT dg.x AS vec_id, dg.deg AS degree, CAST(COALESCE(pn.t, 0) AS BIGINT) AS triangles, " +
        "round(2.0 * CAST(COALESCE(pn.t, 0) AS DOUBLE) / " +
        "(CASE WHEN dg.deg > 1 THEN CAST(dg.deg * (dg.deg - 1) AS DOUBLE) END), 6) AS clust_coeff " +
        "FROM dg LEFT JOIN pn ON dg.x = pn.x"),
    Query("knn_assortativity", (s, dir) =>
      // Newman degree assortativity over the kNN graph: exact-integer
      // endpoint-degree co-moments via the symmetrization algebra (both
      // orderings folded per edge row), one closing aggregation
      graft.ops.Graph.assortativity(
        onFlat(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.knnGraph(_, _))
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))),
      // pageRank replay: the knn_graph CTEs as the edge list, then THREE
      // unrolled integer-scaled iterations — every intermediate BIGINT
      // (pr in 1e-9 units, contributions pr // outdeg, damping
      // (85*s) // 100), so the replay is bit-exact by construction
      // assortativity replay: undirected view off the kNN graph, exact
      // integer degree co-moments (DuckDB HUGEINT sums), closed form in
      // doubles of exact integers, identical op order
      KnnGraphSql +
        "und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM g WHERE src <> dst), " +
        "dg AS (SELECT x, count(*) AS d FROM (SELECT u AS x FROM und UNION ALL SELECT v FROM und) GROUP BY 1), " +
        "a AS (SELECT count(*) AS m, CAST(sum(du.d + dv.d) AS BIGINT) AS sx, " +
        "CAST(sum(du.d * du.d + dv.d * dv.d) AS BIGINT) AS sxx, " +
        "CAST(sum(2 * du.d * dv.d) AS BIGINT) AS sxy " +
        "FROM und JOIN dg du ON und.u = du.x JOIN dg dv ON und.v = dv.x) " +
        "SELECT m AS m_edges, " +
        "round((2.0 * CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / " +
        "(CASE WHEN 2.0 * CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 " +
        "THEN 2.0 * CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) END), 6) AS assortativity FROM a"),
    Query("classifier_score", (s, dir) =>
      // the LogReg serving shape under deterministic hash pseudo-weights:
      // exact integer micro-unit z sums (order-free), one shared-libm
      // sigmoid, round-12 emission (trained-weight face is spec-tested)
      graft.ops.LogReg.pseudoScore(Tables.table(s, dir, "documents")),
      // pseudoScore replay: distinct md5-hash buckets, Knuth pseudo-weight
      // micro integers, exact BIGINT z sum, shared-libm sigmoid rounded 12
      "WITH t AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w " +
        "FROM documents), " +
        "b AS (SELECT DISTINCT doc_id, " +
        "CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 1024 AS b " +
        "FROM t WHERE w <> ''), " +
        "z AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_buckets, " +
        "CAST(sum((b * 2654435761) % 2000001 - 1000000) AS BIGINT) AS zmicro " +
        "FROM b GROUP BY 1) " +
        "SELECT doc_id, n_buckets, " +
        "round(1.0 / (1.0 + exp(-CAST(zmicro AS DOUBLE) / 1000000.0)), 12) AS score, " +
        "(zmicro >= 0) AS pred FROM z"),
    Query("hybrid_rrf", (s, dir) =>
      // reciprocal-rank fusion of the BM25 and exact-cosine rankings;
      // both branches rank-bounded before the ≤2n-row fusion join
      graft.ops.Retrieval.hybridRrf(Tables.table(s, dir, "documents"),
        Tables.table(s, dir, "embeddings"), Seq("spark", "join", "data"), 3L),
      hybridRrfSql),
    Query("mmr_rerank", (s, dir) => {
      // MMR diversification of exact top-8 candidates, 4 greedy steps as
      // per-step broadcast joins + max_by aggs — state is a frame
      val e = Tables.table(s, dir, "embeddings")
      graft.ops.Retrieval.mmrRerank(s, e, e.where(col("vec_id") < 3))
    },
      mmrRerankSql()),
    Query("embedding_outliers", (s, dir) =>
      // per-cell centroid-cosine z-score screen: the anti-prototype drop
      // (SemDeDup's complement); one assignment scan, broadcast moments
      onFlat(Tables.table(s, dir, "embeddings"))(graft.ops.Ivf.embeddingOutliers(_, _)),
      // outlier replay: the same seeded-centroid assignment argmax keeps the
      // rounded centroid cosine; per-cell moments in exact DECIMAL sums, z in
      // identical double op order, single-member cells null via CASE guards
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
        "FROM e ORDER BY vec_id LIMIT 16), " +
        "a AS (SELECT vec_id, CAST(cid AS BIGINT) AS cid, c AS ccos FROM (" +
        "SELECT e.vec_id, c.cid, round(list_cosine_similarity(e.v, c.cvec), 6) AS c, " +
        "row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
        "FROM e CROSS JOIN cents c) WHERE arn = 1), " +
        "st AS (SELECT cid, count(*) AS n, CAST(sum(CAST(ccos AS DECIMAL(9,6))) AS DOUBLE) AS s1, " +
        "CAST(sum(CAST(CAST(ccos AS DECIMAL(9,6)) * CAST(ccos AS DECIMAL(9,6)) AS DECIMAL(18,12))) AS DOUBLE) AS s2 " +
        "FROM a GROUP BY 1), " +
        "j AS (SELECT a.cid, a.vec_id, a.ccos, " +
        "round((a.ccos - s1 / n) / (CASE WHEN (CASE WHEN n > 1 THEN " +
        "(s2 - n * (s1 / n) * (s1 / n)) / (n - 1) END) > 0 THEN " +
        "sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1)) END), 6) AS zscore " +
        "FROM a JOIN st ON a.cid = st.cid) " +
        "SELECT cid, vec_id, ccos, zscore, " +
        "(zscore IS NOT NULL AND zscore <= -2.0) AS is_outlier FROM j"),
    Query("centroid_drift", (s, dir) =>
      // nightly index health: prior-snapshot model refined once over the
      // full corpus; per-cell centroid cosine + assignment churn
      graft.ops.Ivf.centroidDrift(Tables.table(s, dir, "embeddings")),
      centroidDriftOracleSql(numCells = 16)),
    Query("ann_sq8", (s, dir) => {
      // scalar-quantized (1 byte/dim) asymmetric search: raw query vs
      // SQ8-reconstructed corpus — the 8x working-set cut between the
      // flat index and PQ; codec = 2·d corpus min/max stats
      val e = Tables.table(s, dir, "embeddings")
      graft.ops.Sq.searchTopK(e, e.where(col("vec_id") < 10), 5)
    },
      // SQ8 replay: per-dim min/max, round-to-nearest byte codes, midpoint
      // decode, asymmetric cosine (raw query x reconstructed corpus) —
      // identical IEEE arithmetic on both sides
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "x AS (SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e), " +
        "mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1), " +
        "r AS (SELECT x.vec_id, x.i, CASE WHEN mm.mx = mm.mn THEN mm.mn " +
        "ELSE mm.mn + LEAST(GREATEST(floor((x.x - mm.mn) / ((mm.mx - mm.mn) / 255.0) + 0.5), 0.0), 255.0) " +
        "* ((mm.mx - mm.mn) / 255.0) END AS rx " +
        "FROM x JOIN mm ON mm.i = x.i), " +
        "rv AS (SELECT vec_id, list(rx ORDER BY i) AS rvec FROM r GROUP BY 1), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        "sc AS (SELECT q.qid, rv.vec_id AS id2, " +
        "round(list_cosine_similarity(q.qv, rv.rvec), 6) AS cos " +
        "FROM q JOIN rv ON rv.vec_id <> q.qid) " +
        "SELECT qid, id2, cos, rn FROM (" +
        "SELECT qid, id2, cos, CAST(row_number() OVER (" +
        "PARTITION BY qid ORDER BY cos DESC, id2) AS BIGINT) AS rn " +
        "FROM sc) WHERE rn <= 5"),
    Query("embedding_covariance", (s, dir) => {
      // upper-triangular covariance of the embedding dims over values
      // QUANTIZED to 1e-6 by floor — every intermediate is an exact
      // integer, so any engine replays bit-identically (the
      // oracle-replayable face of Pca.train; the treeAggregate
      // accumulator there is the 100 TB path — this explode+self-join
      // shuffles n·d(d+1)/2 skinny rows and exists for replayability;
      // PcaSpec pins the two against each other). Per (i,j) group,
      // sum(xq) IS Σᵥx_{v,i} (each vector contributes once), so the
      // means come from the same aggregation — no second pass.
      val e = Tables.table(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>")))
        .toDF("vec_id", "i", "x")
        .select(col("vec_id"), col("i").cast("long").as("i"),
          floor(col("x") * lit(1000000)).cast("long").as("xq"))
      e.join(e.select(col("vec_id"), col("i").as("j"), col("xq").as("yq")),
          Seq("vec_id"))
        .where(col("i") <= col("j"))
        .groupBy(col("i"), col("j"))
        .agg(sum(col("xq") * col("yq")).as("sp"),
          sum(col("xq")).as("si"), sum(col("yq")).as("sj"),
          count(lit(1)).as("n"))
        .select(col("i"), col("j"),
          // + 0.0 folds IEEE −0.0 (a possible rounding output) to +0.0,
          // same normalization on the oracle side
          (round((col("sp").cast("double") / col("n") -
            (col("si").cast("double") / col("n")) *
            (col("sj").cast("double") / col("n"))) / lit(1000000000000.0), 6)
            + lit(0.0)).as("cov"))
    },
      "WITH e AS (SELECT vec_id, " +
        "generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS i, " +
        "CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000) AS BIGINT) AS xq " +
        "FROM embeddings) " +
        "SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j, " +
        "round((CAST(sum(a.xq * b.xq) AS DOUBLE) / count(*) - " +
        "(CAST(sum(a.xq) AS DOUBLE) / count(*)) * " +
        "(CAST(sum(b.xq) AS DOUBLE) / count(*))) / 1000000000000.0, 6) + 0.0 AS cov " +
        "FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i " +
        "GROUP BY 1, 2"),
    Query("semantic_incremental", (s, dir) => {
      // nightly-crawl screening on the embedding side: the vec_id%10==0
      // batch vs the rest of the corpus — quantizer trained on the
      // corpus, each cell contributes a hash-sampled <=maxCell screen
      // set that BROADCASTS to the batch
      val e = Tables.table(s, dir, "embeddings")
      onFlat(e.where(col("vec_id") % 10 =!= 0))(
        graft.ops.Ivf.incrementalSemantic(e.where(col("vec_id") % 10 === 0), _, _))
    },
      // incrementalSemantic replay: corpus-trained seed centroids, both
      // sides assigned, per-cell hash-order screen sample (<= maxCell),
      // batch x screen cosine, best-match argmax (cos desc, cvid asc)
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "ne AS (SELECT * FROM e WHERE vec_id % 10 = 0), " +
        "ce AS (SELECT * FROM e WHERE vec_id % 10 <> 0), " +
        "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
        "FROM ce ORDER BY vec_id LIMIT 16), " +
        "cassigned AS (SELECT vec_id, v, cid FROM (" +
        "SELECT ce.vec_id, ce.v, c.cid, row_number() OVER (PARTITION BY ce.vec_id " +
        "ORDER BY round(list_cosine_similarity(ce.v, c.cvec), 6) DESC, c.cid) AS arn " +
        "FROM ce CROSS JOIN cents c) WHERE arn = 1), " +
        "nassigned AS (SELECT vec_id, v, cid FROM (" +
        "SELECT ne.vec_id, ne.v, c.cid, row_number() OVER (PARTITION BY ne.vec_id " +
        "ORDER BY round(list_cosine_similarity(ne.v, c.cvec), 6) DESC, c.cid) AS arn " +
        "FROM ne CROSS JOIN cents c) WHERE arn = 1), " +
        "screen AS (SELECT cid, vec_id, v FROM (" +
        "SELECT cid, vec_id, v, row_number() OVER (PARTITION BY cid " +
        "ORDER BY CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,8) AS BIGINT), vec_id) AS hr " +
        "FROM cassigned) WHERE hr <= 64), " +
        "scored AS (SELECT n.vec_id, s.vec_id AS cvid, " +
        "round(list_cosine_similarity(n.v, s.v), 6) AS cos " +
        "FROM nassigned n JOIN screen s ON s.cid = n.cid), " +
        "rolled AS (SELECT vec_id, count(*) AS n_screened, max(cos) AS best_cos " +
        "FROM scored GROUP BY 1), " +
        "best AS (SELECT s.vec_id, min(s.cvid) AS best_match FROM scored s " +
        "JOIN rolled r ON r.vec_id = s.vec_id AND s.cos = r.best_cos GROUP BY 1) " +
        "SELECT d.vec_id, COALESCE(n_screened, 0) AS n_screened, best_match, best_cos, " +
        "(best_cos IS NULL OR best_cos < 0.4) AS novel " +
        "FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) d " +
        "LEFT JOIN rolled ON rolled.vec_id = d.vec_id " +
        "LEFT JOIN best ON best.vec_id = d.vec_id"),
    Query("pq_encode", (s, dir) =>
      graft.ops.Ivf.pqEncode(Tables.table(s, dir, "embeddings")),
      pqEncodeOracleSql(m = 4, k = 16, dim = 64)),
    Query("pq_search", (s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
      graft.ops.Ivf.pqSearch(e, e.where(col("vec_id") < 10), 5)
    },
      pqSearchOracleSql(m = 4, k = 16, dim = 64, topK = 5)),
    Query("ivfpq_encode", (s, dir) =>
      // IVF-PQ residual index build: coarse cell id + PQ codes of the
      // residual (v - centroid[cid]) in one fused map-only pass
      {
        val e = Tables.table(s, dir, "embeddings")
        graft.ops.Ivf.ivfPqEncode(e, graft.ops.Ivf.Flat(graft.ops.Ivf.train(e, 16, 1)))
      },
      ivfPqEncodeOracleSql(m = 4, k = 16, dim = 64,
        numCells = 16, iters = 1)),
    Query("ann_ivfpq", (s, dir) => {
      // IVF-PQ serving scan: probe nprobe cells, ADC over the residual
      // reconstruction — cell pruning x compressed scoring in one index
      val e = Tables.table(s, dir, "embeddings")
      val cents = graft.ops.Ivf.Flat(graft.ops.Ivf.train(e, 16, 1))
      graft.ops.Ivf.ivfPqSearch(graft.ops.Ivf.ivfPqReconFrame(e, cents), cents,
        e.where(col("vec_id") < 10), 5)
    },
      ivfPqSearchOracleSql(m = 4, k = 16, dim = 64,
        numCells = 16, iters = 1, nprobe = 4, topK = 5)),
    Query("ann_ivfpq_rerank", (s, dir) => {
      // ADC top-k' (k' = 4k) -> bounded raw-vector gather -> exact-cosine
      // re-rank keeping top-k: the standard compressed-serving last mile
      val e = Tables.table(s, dir, "embeddings")
      val cents = graft.ops.Ivf.Flat(graft.ops.Ivf.train(e, 16, 1))
      graft.ops.Ivf.ivfPqSearchRerank(graft.ops.Ivf.ivfPqReconFrame(e, cents), e,
        cents, e.where(col("vec_id") < 10), 5)
    },
      ivfPqRerankOracleSql(m = 4, k = 16, dim = 64,
        numCells = 16, iters = 1, nprobe = 4, topK = 5, kFactor = 4)),
    Query("ann_ivfpq_2level", (s, dir) => {
      // IVF-PQ on the TWO-LEVEL coarse quantizer — the serving family on
      // the scalable cell structure (flat √n cells measured n^1.5 at
      // ×243; two-level holds cell size constant): residuals against the
      // member's SUB-centroid, hierarchical probe (2 L1 blocks → best 4
      // sub-cells), ADC over the residual reconstruction
      val e = Tables.table(s, dir, "embeddings")
      val tl = graft.ops.Ivf.trainTwoLevel(e, TL_K, TL_K)
      graft.ops.Ivf.ivfPqSearch(graft.ops.Ivf.ivfPqReconFrame(e, tl), tl,
        e.where(col("vec_id") < 10), 5, nprobe = 4)
    },
      ivfPqTwoLevelOracleSql(m = 4, k = 16, dim = 64,
        nprobe1 = 2, nprobe = 4, topK = 5)),
    Query("ann_ivfpq_rerank_2level", (s, dir) => {
      // the exact re-rank last mile on the two-level index: ADC top-k'
      // (4k) -> bounded raw-vector gather -> exact-cosine final top-k
      val e = Tables.table(s, dir, "embeddings")
      val tl = graft.ops.Ivf.trainTwoLevel(e, TL_K, TL_K)
      graft.ops.Ivf.ivfPqSearchRerank(graft.ops.Ivf.ivfPqReconFrame(e, tl), e, tl,
        e.where(col("vec_id") < 10), 5, nprobe = 4)
    },
      ivfPqTwoLevelRerankOracleSql(m = 4, k = 16,
        dim = 64, nprobe1 = 2, nprobe = 4, topK = 5, kFactor = 4)),
    Query("ann_filtered_pq_2level", (s, dir) => {
      // the metadata-predicate serving path on the scalable coarse
      // structure: predicate filters the two-level ENCODED frame (label
      // carried through the map-only encode), hierarchical probe +
      // exact-ADC rescue guarantee k rows wherever >= k survivors exist
      val e = Tables.table(s, dir, "embeddings")
      val tl = graft.ops.Ivf.trainTwoLevel(e, TL_K, TL_K, iters = 0)
      val enc = graft.ops.Ivf.ivfPqReconFrame(e, tl,
        passthrough = Seq("label"))
      graft.ops.Ivf.ivfPqSearchFiltered(enc, tl,
        e.where(col("vec_id") < 10), 10, col("label") === 7, nprobe = 4)
    },
      ivfPqTwoLevelFilteredOracleSql(m = 4, k = 16,
        dim = 64, nprobe1 = 2, nprobe = 4, topK = 10, label = 7)),
    Query("ann_filtered", (s, dir) => {
      // metadata-predicate ANN: top-k WHERE label = 7 with the predicate
      // INSIDE the candidate scan (pushed to the corpus parquet read) and
      // the rescue pass guaranteeing k rows wherever >= k survivors exist
      // — post-filtering the unfiltered top-k would silently underfill.
      // k=10 over ~50 survivors across 16 cells so the oracle exercises
      // BOTH phases (some probes underfill, some don't)
      val e = Tables.table(s, dir, "embeddings")
      onFlat(e)(graft.ops.Ivf.searchTopKFiltered(_, _, e.where(col("vec_id") < 10), 10,
        col("label") === 7))
    },
      annIvfFilteredOracleSql(k = 10, numCells = 16,
        nprobe = 4, label = 7)),
    Query("ann_filtered_pq", (s, dir) => {
      // the compressed-index sibling: predicate filters the ENCODED frame
      // with the metadata CARRIED THROUGH the map-only encode
      // (passthrough — the r11 measured re-plan: joining the metadata
      // onto the index rows afterwards costs a corpus-scale vec_id
      // equi-join for rows the encode scan already had in hand), probe +
      // rescue both score ADC reconstructions
      val e = Tables.table(s, dir, "embeddings")
      val cents = graft.ops.Ivf.Flat(graft.ops.Ivf.train(e, 16, 1))
      val enc = graft.ops.Ivf.ivfPqReconFrame(e, cents,
        passthrough = Seq("label"))
      graft.ops.Ivf.ivfPqSearchFiltered(enc, cents,
        e.where(col("vec_id") < 10), 10, col("label") === 7)
    },
      ivfPqFilteredOracleSql(m = 4, k = 16, dim = 64,
        numCells = 16, iters = 1, nprobe = 4, topK = 10, label = 7))
  )
}
