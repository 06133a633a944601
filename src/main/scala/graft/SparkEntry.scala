package graft

import graft.core.{Tables, Timeframe}
import graft.ohlcv.{Analytics, Candles, Microstructure, Studies}
import graft.operators.AsofJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One registered query: its Spark build over an sf directory and the
  * DuckDB SQL that replays it, with identical column names.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       oracleSql: String)

object Query {
  /** The name index over `qs`; fails naming every name that repeats. */
  def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}

/** The query surface — see SURVEY.md §2 for the operator inventory; every
  * [SQL] operator is one `Query` in a `graft.registry` object, and
  * `queries` indexes them all by name.
  *
  * Determinism rules shared by both sides:
  *  - money/qty sums go through exact DECIMAL(18,2) partial sums, then
  *    surface as DOUBLE (associative ⇒ shuffle-order-insensitive, and
  *    bit-identical across engines);
  *  - time bucketing is integer epoch-microsecond arithmetic
  *    (ts - ts % width), never float division;
  *  - first/last picks (open/close) key on the unique trade timestamp.
  */
object SparkEntry {

  private[graft] val Tf1m = Timeframe.parse("1m")
  private[graft] val Tf5m = Timeframe.parse("5m")
  private[graft] val Tf1h = Timeframe.parse("1h")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Candles.fromTrades(Tables.trades(spark, "/root/testdata/sf0.001"), Tf1h)

  // ---- shared SQL fragments for the DuckDB oracles -------------------------

  /** events → trade stream (SURVEY §1 domain mapping). The WHERE mirrors
    * Tables.trades' ingest boundary: malformed rows (null symbol/ts/
    * price/size) drop — a no-op on well-formed feeds.
    */
  private[graft] val TradesSql =
    "SELECT * FROM (SELECT event_type AS symbol, ts, value AS price, " +
      "CAST(regexp_extract(props, '([0-9]+)', 1) AS DOUBLE) AS qty FROM events) " +
      "WHERE symbol IS NOT NULL AND ts IS NOT NULL " +
      "AND price IS NOT NULL AND qty IS NOT NULL"

  /** OHLCV resample at a fixed width, mirroring Candles.fromTrades. */
  private[graft] def candlesSql(widthUs: Long, src: String = "t"): String =
    s"SELECT symbol, make_timestamp(epoch_us(ts) - epoch_us(ts) % $widthUs) AS bucket_ts, " +
      "min_by(price, ts) AS open, max(price) AS high, min(price) AS low, " +
      "max_by(price, ts) AS close, " +
      "CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS volume, " +
      s"count(*) AS trades FROM $src GROUP BY 1, 2"

  private[graft] def withTrades(body: String): String = s"WITH t AS ($TradesSql) $body"

  /** The deterministic IVF-cell kNN graph (cell-bounded candidates,
    * rounded-cosine/neighbor-id tiebreak, k=5) as a CTE chain ending in
    * `g(src, dst)` — shared by the graph-analytics oracles
    * (knn_pagerank, knn_communities).
    */
  /** The knn candidate CTE pair: per-cell ≤ Ivf.KnnMaxCand hash-order
    * candidates (the dup-flood cap — exact within-cell kNN whenever the
    * cell fits the cap; knnGraphOnCells' replay) + the capped candidate
    * scoring join. `src` must expose (vec_id, v, cellCol).
    */
  private[graft] def knnCandSql(src: String, cellCol: String): String =
    s"kreps AS (SELECT $cellCol AS kcid, vec_id, v FROM (" +
      s"SELECT $cellCol, vec_id, v, row_number() OVER (PARTITION BY $cellCol " +
      "ORDER BY CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,8) AS BIGINT), vec_id) AS hr " +
      s"FROM $src) WHERE hr <= ${graft.ops.Ivf.KnnMaxCand}), " +
      "p AS (SELECT a.vec_id, r.vec_id AS neighbor_id, " +
      "round(list_cosine_similarity(a.v, r.v), 6) AS cos " +
      s"FROM $src a JOIN kreps r ON r.kcid = a.$cellCol AND r.vec_id <> a.vec_id), "

  private[graft] val KnnGraphSql: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
      "FROM e ORDER BY vec_id LIMIT 16), " +
      "assigned AS (SELECT vec_id, v, cid FROM (" +
      "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
      "FROM e CROSS JOIN cents c) WHERE arn = 1), " +
      knnCandSql("assigned", "cid") +
      "g AS (SELECT vec_id AS src, neighbor_id AS dst FROM (" +
      "SELECT vec_id, neighbor_id, row_number() OVER (" +
      "PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rn " +
      "FROM p) WHERE rn <= 5), "

  /** Synchronous LPA rounds as chained CTEs (l0 → l`n`): per round, the
    * neighbor-label vote count and the (cnt DESC, label ASC) argmax —
    * the SQL replay of Graph.labelPropagation's max(struct(cnt, −label)).
    */
  private[graft] def lpaRoundsSql(n: Int): String =
    (1 to n).map { i =>
      s"v$i AS (SELECT sym.dst AS nv, l.label, count(*) AS cnt FROM sym " +
        s"JOIN l${i - 1} l ON l.nv = sym.src GROUP BY 1, 2), " +
        s"a$i AS (SELECT nv, label AS new_label FROM (SELECT nv, label, " +
        s"row_number() OVER (PARTITION BY nv ORDER BY cnt DESC, label ASC) AS rn FROM v$i) WHERE rn = 1), " +
        s"l$i AS (SELECT l${i - 1}.nv, COALESCE(a$i.new_label, l${i - 1}.label) AS label " +
        s"FROM l${i - 1} LEFT JOIN a$i ON a$i.nv = l${i - 1}.nv)"
    }.mkString(", ")

  /** Inactivity-gap sessionization CTE chain shared by the four session
    * queries (sessionize / session_stats / session_percentiles /
    * bounce_rate): `sess` = one row per (user, session) with bounds and
    * event count.
    */
  private[graft] val sessionCtes: String =
    "x AS (SELECT user_id, ts, event_id, " +
      "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
      "y AS (SELECT user_id, ts, event_id, CASE WHEN prev_ts IS NULL OR " +
      "epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS brk FROM x), " +
      "s AS (SELECT user_id, ts, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM y), " +
      "sess AS (SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end, " +
      "count(*) AS n_events FROM s GROUP BY 1, 2)"

  /** Shared by contamination_check (the report) and decontaminate (the
    * transform): per-corpus-doc benchmark shingle containment.
    */
  private[graft] val contaminationSql: String =
    "WITH dw AS (SELECT doc_id, source, string_split_regex(text, '\\s+') AS ws FROM documents), " +
      "shg AS (SELECT doc_id, source, list_distinct(list_transform(" +
      "generate_series(1, len(ws)-2), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh FROM dw), " +
      "bsh AS (SELECT DISTINCT unnest(sh) AS s FROM shg WHERE source = 'src0'), " +
      "corpus AS (SELECT doc_id, sh FROM shg WHERE source <> 'src0'), " +
      "ex AS (SELECT doc_id, unnest(sh) AS s FROM corpus), " +
      "hits AS (SELECT e.doc_id, count(*) AS n_hit FROM ex e JOIN bsh b ON e.s = b.s GROUP BY 1), " +
      "base AS (SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_shingles, " +
      "COALESCE(h.n_hit, 0) AS n_hit FROM corpus c LEFT JOIN hits h ON h.doc_id = c.doc_id) " +
      "SELECT doc_id, n_shingles, n_hit, containment, containment >= 0.5 AS contaminated " +
      "FROM (SELECT base.*, CASE WHEN n_shingles > 0 THEN " +
      "round(CAST(n_hit AS DOUBLE) / n_shingles, 6) END AS containment FROM base) b2"

  /** Blocked symbol-pair generation shared by symbol_correlations and
    * rolling_corr. Keying the self-join on bucket_ts alone expands
    * |symbols|² rows under every time key; instead the right side is
    * tagged blk = hash(sym2) mod B and the left replicated over all B
    * blocks, so (bucket_ts, blk) spreads each bucket's pair work across B
    * reducer keys — per-reducer fan-out drops from |s|² to |s|·(|s|/B) at
    * the cost of B× left-side shuffle volume. B is DERIVED from the
    * symbol-universe size (B ≈ √|s| balances replication against
    * fan-out; one cheap distinct-count job on the already-materialized
    * returns frame — which also fronts its materialization for the join
    * that follows). Output values are identical to the plain bucket_ts
    * join at any B — the oracle replays the unblocked form.
    */
  private[graft] def blockedPairJoin(r: DataFrame): DataFrame = {
    val n = r.agg(countDistinct(col("symbol"))).head().getLong(0)
    val B = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val left = r.select(col("symbol").as("sym1"), col("bucket_ts"), col("ret").as("ret1"))
      .withColumn("blk", explode(array((0 until B).map(lit(_)): _*)))
    val right = r.select(col("symbol").as("sym2"), col("bucket_ts"), col("ret").as("ret2"))
      .withColumn("blk", pmod(hash(col("sym2")), lit(B)))
    left.join(right, Seq("bucket_ts", "blk"))
      .where(col("sym1") < col("sym2"))
      .select(col("sym1"), col("sym2"), col("bucket_ts"), col("ret1"), col("ret2"))
  }

  // ---- queries -------------------------------------------------------------

  private lazy val byName: Map[String, Query] = Query.index(
    graft.registry.OhlcvRegistry.queries ++
    graft.registry.StudiesRegistry.queries ++
    graft.registry.OlapRegistry.queries ++
    graft.registry.EventsRegistry.queries ++
    graft.registry.TextRegistry.queries ++
    graft.registry.DedupRegistry.queries ++
    graft.registry.VectorRegistry.queries ++
    graft.registry.MultimodalRegistry.queries)

  /** Every registered query, sorted by name. */
  lazy val queries: Seq[Query] = byName.values.toSeq.sortBy(_.name)

  def query(name: String): Query =
    byName.getOrElse(name, throw new NoSuchElementException(s"no query named $name"))

  /** TPC-H style revenue aggregate: exact decimal partial sums. */
  private[graft] def revenue = {
    val d = DecimalType(18, 2)
    sum(col("l_extendedprice").cast(d) *
      (lit(1).cast(d) - col("l_discount").cast(d))).cast("double")
  }

  /** Shared DuckDB replay of Ivf.pqEncoded: per-subspace codebooks from
    * the k lowest vec_ids' slices (the Ivf seed contract), assignment =
    * argmax of round(cosine, 6) with lowest-cid tiebreak per subspace,
    * recon (in CTE `r`) = the concatenated chosen centroids.
    */
  private[graft] def pqCtes(m: Int, k: Int, dim: Int): String = {
    val sub = dim / m
    val cbs = (0 until m).map(s =>
      s"cb$s AS (SELECT cid, v[${s * sub + 1}:${(s + 1) * sub}] AS cvec FROM seeds)")
      .mkString(", ")
    val assigns = (0 until m).map(s =>
      s"a$s AS (SELECT vec_id, cid AS code$s FROM (" +
        "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        s"ORDER BY round(list_cosine_similarity(e.v[${s * sub + 1}:${(s + 1) * sub}], c.cvec), 6) DESC, c.cid) AS rn " +
        s"FROM e CROSS JOIN cb$s c) WHERE rn = 1)").mkString(", ")
    val joins = (0 until m).map(s => s"JOIN a$s ON a$s.vec_id = e.vec_id").mkString(" ") +
      " " + (0 until m).map(s => s"JOIN cb$s c$s ON c$s.cid = a$s.code$s").mkString(" ")
    val recon = (0 until m).map(s => s"c$s.cvec").mkString(" || ")
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v " +
      s"FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k)), " +
      cbs + ", " + assigns + ", " +
      "r AS (SELECT e.vec_id, e.v, " +
      (0 until m).map(s => s"CAST(a$s.code$s AS BIGINT) AS code$s").mkString(", ") +
      s", ($recon) AS recon FROM e $joins)"
  }

  private[graft] def pqEncodeOracleSql(m: Int, k: Int, dim: Int): String =
    s"WITH ${pqCtes(m, k, dim)} " +
      "SELECT vec_id, " + (0 until m).map(s => s"code$s").mkString(", ") +
      ", round(list_cosine_similarity(v, recon), 6) AS recon_cos FROM r"

  private[graft] def pqSearchOracleSql(m: Int, k: Int, dim: Int, topK: Int): String =
    s"WITH ${pqCtes(m, k, dim)}, " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
      "cand AS (SELECT q.qid, r.vec_id AS id2, " +
      "round(list_cosine_similarity(q.qv, r.recon), 6) AS cos " +
      "FROM r CROSS JOIN q WHERE r.vec_id <> q.qid) " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM cand) WHERE rn <= $topK"

  /** Shared DuckDB replay of Ivf.ivfPqEncodedFrame: `iters` Lloyd rounds
    * train the coarse quantizer (annIvfTrained's assign/mean CTEs),
    * residuals v − centroid[cid] seed per-subspace codebooks from the k
    * lowest vec_ids' residuals, ONE Lloyd round refines each codebook on
    * the residual slices (decimal-exact means, present codes compacted —
    * the localizePos contract), and recon (CTE `r`) = coarse centroid +
    * concatenated chosen residual centroids. Subspace assignment guards
    * NaN cosines (a zero residual carries no direction) as
    * strictly-worse-than-any-real — mirroring NearestCell, where a NaN
    * comparison is false and the candidate never wins.
    */
  private[graft] def ivfPqCtes(m: Int, k: Int, dim: Int, numCells: Int,
                        iters: Int): String = {
    val sub = dim / m
    def assignCte(name: String, cents: String): String =
      s"$name AS (SELECT vec_id, v, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
        s"FROM e CROSS JOIN $cents c) WHERE arn = 1)"
    def meanCte(name: String, from: String): String =
      s"$name AS (SELECT CAST(row_number() OVER (ORDER BY cid) - 1 AS INTEGER) AS cid, cvec FROM (" +
        "SELECT cid, list(xm ORDER BY pos) AS cvec FROM (" +
        "SELECT cid, pos, CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS xm FROM (" +
        s"SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM $from) " +
        "GROUP BY cid, pos) GROUP BY cid) x)"
    val rounds = (1 to iters).flatMap { i =>
      Seq(assignCte(s"ta${i - 1}", s"cents${i - 1}"), meanCte(s"cents$i", s"ta${i - 1}"))
    }.mkString(", ")
    val fin = s"cents$iters"
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cents0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
      s"FROM e ORDER BY vec_id LIMIT $numCells), " +
      rounds + ", " +
      assignCte("af", fin) + ", " +
      s"resid AS MATERIALIZED (SELECT a.vec_id, a.v, a.cid, " +
      s"list_transform(generate_series(1, $dim), i -> a.v[i] - c.cvec[i]) AS res " +
      s"FROM af a JOIN $fin c ON c.cid = a.cid), " +
      pqResidualCtes(m, k, dim,
        baseJoin = s"JOIN $fin cc ON cc.cid = resid.cid", baseVec = "cc.cvec")
  }

  /** The residual-PQ CTE chain shared by the flat and two-level IVF-PQ
    * replays (mirrors Ivf.pqCodeResiduals — the codebook math never sees
    * which coarse quantizer produced the residuals): assumes CTEs `e` and
    * `resid(vec_id, v, cid, res)` exist upstream, emits seeds → seed
    * books → one decimal-exact Lloyd round → code picks → `r` with
    * recon = coarse base + concatenated chosen residual centroids, where
    * the base row joins via `baseJoin` and contributes `baseVec`.
    *
    * The multiply-referenced stages (`resid` — read by seeds, m seed
    * picks, m codebook means, m code assigns, and `r`; the codebooks;
    * `r` itself) are MATERIALIZED: DuckDB 1.0 inlines CTEs once per
    * reference, so without the hints the corpus-scale argmax windows
    * re-execute ~3m+2 times and the ×27 filtered replays exhausted
    * >77 GB of temp (r14 verdict ask #2). Same result rows either way —
    * only the replay's execution strategy changes.
    */
  private[graft] def pqResidualCtes(m: Int, k: Int, dim: Int,
                                    baseJoin: String, baseVec: String): String = {
    val sub = dim / m
    // NaN-guarded per-subspace code pick against codebook `book`
    def codePick(name: String, book: String, outCol: String, s: Int): String = {
      val cs = s"round(list_cosine_similarity(r0.res[${s * sub + 1}:${(s + 1) * sub}], c.cvec), 6)"
      s"$name AS (SELECT vec_id, scid AS $outCol FROM (" +
        "SELECT r0.vec_id, c.scid, row_number() OVER (PARTITION BY r0.vec_id " +
        s"ORDER BY (CASE WHEN isnan($cs) THEN -2 ELSE $cs END) DESC, c.scid) AS rn " +
        s"FROM resid r0 CROSS JOIN $book c) WHERE rn = 1)"
    }
    // seed books → seed-code pick → one decimal-exact Lloyd round on the
    // residual slices (mirrors ivfPqEncodedFrame's bookIters = 1 default)
    val seedBooks = (0 until m).map(s =>
      s"sb$s AS (SELECT scid, res[${s * sub + 1}:${(s + 1) * sub}] AS cvec FROM seeds)")
      .mkString(", ")
    val seedPicks = (0 until m).map(s => codePick(s"pb$s", s"sb$s", "cid", s))
      .mkString(", ")
    val cbs = (0 until m).map { s =>
      s"cb$s AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY cid) - 1 AS INTEGER) AS scid, cvec FROM (" +
        "SELECT cid, list(xm ORDER BY pos) AS cvec FROM (" +
        "SELECT cid, pos, CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS xm FROM (" +
        s"SELECT pb$s.cid, unnest(r1.res[${s * sub + 1}:${(s + 1) * sub}]) AS x, " +
        s"generate_subscripts(r1.res[${s * sub + 1}:${(s + 1) * sub}], 1) AS pos " +
        s"FROM pb$s JOIN resid r1 ON r1.vec_id = pb$s.vec_id) " +
        "GROUP BY cid, pos) GROUP BY cid) x)"
    }.mkString(", ")
    val assigns = (0 until m).map(s => codePick(s"pa$s", s"cb$s", s"code$s", s))
      .mkString(", ")
    val joins = (0 until m).map(s => s"JOIN pa$s ON pa$s.vec_id = resid.vec_id").mkString(" ") +
      " " + (0 until m).map(s => s"JOIN cb$s c$s ON c$s.scid = pa$s.code$s").mkString(" ")
    val rr = (0 until m).map(s => s"c$s.cvec").mkString(" || ")
    // codebook seeds in portable md5-prefix hash order (pqCodeResiduals'
    // fix for the degenerate lowest-vec_id pick — those ids are the
    // coarse quantizer's own seeds, residuals ~zero); slot order stays
    // vec_id asc, mirroring the Scala side's sortBy after collect
    "seeds AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS scid, res " +
      "FROM (SELECT vec_id, res FROM resid " +
      "ORDER BY CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,8) AS BIGINT), vec_id " +
      s"LIMIT $k)), " +
      seedBooks + ", " + seedPicks + ", " + cbs + ", " + assigns + ", " +
      "r AS MATERIALIZED (SELECT resid.vec_id, resid.v, resid.cid, " +
      (0 until m).map(s => s"CAST(pa$s.code$s AS BIGINT) AS code$s").mkString(", ") +
      s", list_transform(generate_series(1, $dim), i -> $baseVec[i] + ($rr)[i]) AS recon " +
      s"FROM resid $joins $baseJoin)"
  }

  private[graft] def ivfPqEncodeOracleSql(m: Int, k: Int, dim: Int, numCells: Int,
                                   iters: Int): String =
    s"WITH ${ivfPqCtes(m, k, dim, numCells, iters)} " +
      "SELECT vec_id, CAST(cid AS BIGINT) AS cid, " +
      (0 until m).map(s => s"code$s").mkString(", ") +
      ", round(list_cosine_similarity(v, recon), 6) AS recon_cos FROM r"

  private[graft] def ivfPqSearchOracleSql(m: Int, k: Int, dim: Int, numCells: Int,
                                   iters: Int, nprobe: Int, topK: Int): String =
    s"WITH ${ivfPqCtes(m, k, dim, numCells, iters)}, " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
      "probes AS (SELECT qid, qv, cid FROM (" +
      "SELECT q.qid, q.qv, c.cid, row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC, c.cid) AS prn " +
      s"FROM q CROSS JOIN cents$iters c) WHERE prn <= $nprobe), " +
      "cand AS (SELECT p.qid, r.vec_id AS id2, " +
      "round(list_cosine_similarity(p.qv, r.recon), 6) AS cos " +
      "FROM r JOIN probes p ON r.cid = p.cid WHERE r.vec_id <> p.qid) " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM cand) WHERE rn <= $topK"

  /** DuckDB replay of Ivf.ivfPqSearchRerank: the ADC candidate CTEs from
    * [[ivfPqSearchOracleSql]] cut at k′ = kFactor·topK, then each
    * candidate's RAW vector re-joins for the exact rounded cosine and the
    * final top-k row_number — the same order (cos DESC, id2) both stages.
    */
  private[graft] def ivfPqRerankOracleSql(m: Int, k: Int, dim: Int, numCells: Int,
                                   iters: Int, nprobe: Int, topK: Int,
                                   kFactor: Int): String =
    s"WITH ${ivfPqCtes(m, k, dim, numCells, iters)}, " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
      "probes AS (SELECT qid, qv, cid FROM (" +
      "SELECT q.qid, q.qv, c.cid, row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC, c.cid) AS prn " +
      s"FROM q CROSS JOIN cents$iters c) WHERE prn <= $nprobe), " +
      "cand AS (SELECT p.qid, r.vec_id AS id2, " +
      "round(list_cosine_similarity(p.qv, r.recon), 6) AS cos " +
      "FROM r JOIN probes p ON r.cid = p.cid WHERE r.vec_id <> p.qid), " +
      "adc AS (SELECT qid, id2 FROM (" +
      "SELECT qid, id2, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM cand) WHERE rn <= ${topK * kFactor}), " +
      "rer AS (SELECT a.qid, a.id2, " +
      "round(list_cosine_similarity(q.qv, e2.v), 6) AS cos " +
      "FROM adc a JOIN q ON q.qid = a.qid JOIN e e2 ON e2.vec_id = a.id2) " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM rer) WHERE rn <= $topK"

  /** DuckDB replay of Ivf.searchTopKFiltered (iters=0 seed quantizer):
    * survivors filtered BEFORE cell assignment, probed-cell candidates,
    * then the rescue pass — queries whose probed cells hold < k survivors
    * re-score exactly against ALL survivors (their probe candidates
    * discarded, not mixed), replaying the k-guarantee contract.
    */
  private[graft] def annIvfFilteredOracleSql(k: Int, numCells: Int, nprobe: Int,
                                      label: Int): String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings), " +
      "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
      s"FROM e ORDER BY vec_id LIMIT $numCells), " +
      s"s AS (SELECT vec_id, v FROM e WHERE label = $label), " +
      "assigned AS (SELECT vec_id, v, cid FROM (" +
      "SELECT s.vec_id, s.v, c.cid, row_number() OVER (PARTITION BY s.vec_id " +
      "ORDER BY round(list_cosine_similarity(s.v, c.cvec), 6) DESC, c.cid) AS arn " +
      "FROM s CROSS JOIN cents c) WHERE arn = 1), " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
      "probes AS (SELECT qid, qv, cid FROM (" +
      "SELECT q.qid, q.qv, c.cid, row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC, c.cid) AS prn " +
      s"FROM q CROSS JOIN cents c) WHERE prn <= $nprobe), " +
      "cand AS (SELECT p.qid, a.vec_id AS id2, " +
      "round(list_cosine_similarity(p.qv, a.v), 6) AS cos " +
      "FROM assigned a JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> p.qid), " +
      "cnt AS (SELECT qid, count(*) AS n FROM cand GROUP BY 1), " +
      "under AS (SELECT q.qid, q.qv FROM q LEFT JOIN cnt ON cnt.qid = q.qid " +
      s"WHERE coalesce(cnt.n, 0) < $k), " +
      "resc AS (SELECT u.qid, s.vec_id AS id2, " +
      "round(list_cosine_similarity(u.qv, s.v), 6) AS cos " +
      "FROM s JOIN under u ON s.vec_id <> u.qid), " +
      "fin AS (SELECT * FROM cand WHERE qid NOT IN (SELECT qid FROM under) " +
      "UNION ALL SELECT * FROM resc) " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM fin) WHERE rn <= $k"

  /** DuckDB replay of Ivf.ivfPqSearchFilteredWith: the [[ivfPqCtes]]
    * encode chain, index rows filtered by the metadata join, probe +
    * rescue both scoring ADC reconstructions — the compressed-index
    * sibling of [[annIvfFilteredOracleSql]].
    *
    * Replay shape (r14 verdict ask #2 — the ×27 parity gate): the
    * survivor recon frame and every CTE referenced more than once are
    * MATERIALIZED — DuckDB 1.0 inlines CTEs per reference, so the old
    * form re-planned the whole encode chain (m code-pick windows over
    * corpus × codebook cross joins) once per consumer, multiplicatively
    * through rs→cand→cnt→under→fin, exhausting >77 GB of temp at ×27
    * where the data itself is ~7 MB. Each branch is also CUT per query
    * to topK by the FINAL ordering keys inside its own CTE (a query's
    * fin rows come from exactly one branch, so the cut is
    * output-identical) — the bounded per-query candidate list the
    * engine's probe+rescue actually computes, never a carried
    * |underfilled|×|survivors| cross-score.
    */
  private[graft] def ivfPqFilteredOracleSql(m: Int, k: Int, dim: Int, numCells: Int,
                                     iters: Int, nprobe: Int, topK: Int,
                                     label: Int): String =
    s"WITH ${ivfPqCtes(m, k, dim, numCells, iters)}, " +
      "lbl AS (SELECT vec_id, label FROM embeddings), " +
      "rs AS MATERIALIZED (SELECT r.vec_id, r.cid, r.recon FROM r " +
      s"JOIN lbl ON lbl.vec_id = r.vec_id WHERE lbl.label = $label), " +
      "q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
      "probes AS (SELECT qid, qv, cid FROM (" +
      "SELECT q.qid, q.qv, c.cid, row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC, c.cid) AS prn " +
      s"FROM q CROSS JOIN cents$iters c) WHERE prn <= $nprobe), " +
      "cand AS MATERIALIZED (SELECT p.qid, rs.vec_id AS id2, " +
      "round(list_cosine_similarity(p.qv, rs.recon), 6) AS cos " +
      "FROM rs JOIN probes p ON rs.cid = p.cid WHERE rs.vec_id <> p.qid), " +
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

  /** DuckDB replay of Ivf.searchTopK with `iters` Lloyd rounds: each round
    * is argmax-assignment (rounded cosine, cid tiebreak) followed by
    * decimal-exact per-component centroid means, with cids re-ranked the
    * way Ivf.localize compacts them. Trained k-means, bit-replayed in SQL.
    */
  /** DuckDB replay of Ivf.centroidDrift: prior = even vec_ids, one Lloyd
    * round over the prior (train iters=1), ONE refinement of the full
    * corpus from those centroids (retrain), then per-cell centroid cosine
    * + prior-assignment churn — the same assign/mean CTEs the trained-IVF
    * oracle uses, parameterized by source.
    */
  private[graft] def centroidDriftOracleSql(numCells: Int): String = {
    def assignCte(name: String, src: String, cents: String): String =
      s"$name AS (SELECT vec_id, v, cid FROM (" +
        s"SELECT $src.vec_id, $src.v, c.cid, row_number() OVER (PARTITION BY $src.vec_id " +
        s"ORDER BY round(list_cosine_similarity($src.v, c.cvec), 6) DESC, c.cid) AS arn " +
        s"FROM $src CROSS JOIN $cents c) WHERE arn = 1)"
    def meanCte(name: String, from: String): String =
      s"$name AS (SELECT CAST(row_number() OVER (ORDER BY cid) - 1 AS INTEGER) AS cid, cvec FROM (" +
        "SELECT cid, list(xm ORDER BY pos) AS cvec FROM (" +
        "SELECT cid, pos, CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS xm FROM (" +
        s"SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM $from) " +
        "GROUP BY cid, pos) GROUP BY cid) x)"
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "ep AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0), " +
      "cents0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
      s"FROM ep ORDER BY vec_id LIMIT $numCells), " +
      assignCte("a0", "ep", "cents0") + ", " +
      meanCte("centsOld", "a0") + ", " +
      assignCte("af", "e", "centsOld") + ", " +
      meanCte("centsNew", "af") + ", " +
      assignCte("aOld", "ep", "centsOld") + ", " +
      assignCte("aNew", "ep", "centsNew") + ", " +
      "mv AS (SELECT aOld.cid AS cid, CASE WHEN aOld.cid <> aNew.cid THEN 1 ELSE 0 END AS moved " +
      "FROM aOld JOIN aNew ON aOld.vec_id = aNew.vec_id), " +
      "per AS (SELECT cid, count(*) AS n_members, CAST(sum(moved) AS BIGINT) AS n_moved FROM mv GROUP BY 1), " +
      "dr AS (SELECT o.cid, round(list_cosine_similarity(o.cvec, n.cvec), 6) AS drift_cos " +
      "FROM centsOld o JOIN centsNew n ON o.cid = n.cid) " +
      "SELECT CAST(dr.cid AS BIGINT) AS cid, drift_cos, " +
      "CAST(COALESCE(per.n_members, 0) AS BIGINT) AS n_members, " +
      "CAST(COALESCE(per.n_moved, 0) AS BIGINT) AS n_moved, " +
      "round(CAST(COALESCE(per.n_moved, 0) AS DOUBLE) / " +
      "(CASE WHEN COALESCE(per.n_members, 0) > 0 THEN CAST(per.n_members AS DOUBLE) END), 6) AS churn_rate " +
      "FROM dr LEFT JOIN per ON dr.cid = per.cid"
  }

  private[graft] def annIvfTrainedOracleSql(k: Int, numCells: Int, nprobe: Int,
                                     iters: Int): String = {
    def assignCte(name: String, cents: String): String =
      s"$name AS (SELECT vec_id, v, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
        s"FROM e CROSS JOIN $cents c) WHERE arn = 1)"
    def meanCte(name: String, from: String): String =
      s"$name AS (SELECT CAST(row_number() OVER (ORDER BY cid) - 1 AS INTEGER) AS cid, cvec FROM (" +
        "SELECT cid, list(xm ORDER BY pos) AS cvec FROM (" +
        "SELECT cid, pos, CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS xm FROM (" +
        s"SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM $from) " +
        "GROUP BY cid, pos) GROUP BY cid) x)"
    val rounds = (1 to iters).flatMap { i =>
      Seq(assignCte(s"a${i - 1}", s"cents${i - 1}"), meanCte(s"cents$i", s"a${i - 1}"))
    }.mkString(", ")
    val fin = s"cents$iters"
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cents0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
      s"FROM e ORDER BY vec_id LIMIT $numCells), " +
      rounds + ", " +
      assignCte("af", fin) + ", " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
      "probes AS (SELECT qid, qv, cid FROM (" +
      "SELECT q.qid, q.qv, c.cid, row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC, c.cid) AS prn " +
      s"FROM q CROSS JOIN $fin c) WHERE prn <= $nprobe), " +
      "cand AS (SELECT p.qid, a.vec_id AS id2, " +
      "round(list_cosine_similarity(p.qv, a.v), 6) AS cos " +
      "FROM af a JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> p.qid) " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM cand) WHERE rn <= $k"
  }

  /** DuckDB replay of Similarity.lshTopK: hyperplane sign buckets from the
    * same seeded plane constants, hamming≤1 multiprobe, rounded-cosine
    * top-k. Plane constants are inlined at full double precision (shortest
    * round-trip repr), so both engines bucket identically.
    */
  private[graft] def annLshOracleSql(k: Int, numPlanes: Int): String = {
    val ps = graft.ops.Similarity.planes(numPlanes, 64)
    val bucket = (0 until numPlanes).map { i =>
      val plane = ps(i).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $plane) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"eb AS (SELECT vec_id, v, $bucket AS bucket FROM e), " +
      "q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM eb WHERE vec_id < 10), " +
      "cand AS (SELECT q.qid, e2.vec_id AS id2, " +
      "round(list_cosine_similarity(q.qv, e2.v), 6) AS cos " +
      "FROM eb e2 CROSS JOIN q " +
      "WHERE bit_count(xor(CAST(e2.bucket AS BIGINT), CAST(q.qb AS BIGINT))) <= 1 " +
      "AND e2.vec_id <> q.qid) " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM cand) WHERE rn <= $k"
  }

  /** DuckDB replay of Similarity.lshTopKMulti: per-table sign buckets from
    * the same per-table seeded planes; candidate = hamming≤1 in ANY table.
    */
  private[graft] def annLshMultiOracleSql(k: Int, numPlanes: Int, numTables: Int): String = {
    def bucketSql(table: Int): String = {
      val ps = graft.ops.Similarity.planes(numPlanes, 64, table)
      (0 until numPlanes).map { i =>
        val plane = ps(i).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $plane) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
    }
    val bucketCols = (0 until numTables).map(t => s"${bucketSql(t)} AS b$t").mkString(", ")
    val anyTable = (0 until numTables)
      .map(t => s"bit_count(xor(CAST(e2.b$t AS BIGINT), CAST(q.b$t AS BIGINT))) <= 1")
      .mkString(" OR ")
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"eb AS (SELECT vec_id, v, $bucketCols FROM e), " +
      "q AS (SELECT * FROM eb WHERE vec_id < 10), " +
      "cand AS (SELECT q.vec_id AS qid, e2.vec_id AS id2, " +
      "round(list_cosine_similarity(q.v, e2.v), 6) AS cos " +
      s"FROM eb e2 CROSS JOIN q WHERE e2.vec_id <> q.vec_id AND ($anyTable)) " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM cand) WHERE rn <= $k"
  }

  /** DuckDB replay of Ivf.searchTopK at iters=0: centroids are the
    * numCells lowest vec_ids, assignment/probing/top-k all order by
    * round(cosine, 6) with cell-id (resp. neighbor-id) tiebreaks —
    * exactly the native NearestCell + bounded top-k semantics.
    */
  private[graft] def annIvfOracleSql(k: Int, numCells: Int, nprobe: Int): String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cvec " +
      s"FROM e ORDER BY vec_id LIMIT $numCells), " +
      "assigned AS (SELECT vec_id, v, cid FROM (" +
      "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cid) AS arn " +
      "FROM e CROSS JOIN cents c) WHERE arn = 1), " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
      "probes AS (SELECT qid, qv, cid FROM (" +
      "SELECT q.qid, q.qv, c.cid, row_number() OVER (PARTITION BY q.qid " +
      "ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC, c.cid) AS prn " +
      s"FROM q CROSS JOIN cents c) WHERE prn <= $nprobe), " +
      "cand AS (SELECT p.qid, a.vec_id AS id2, " +
      "round(list_cosine_similarity(p.qv, a.v), 6) AS cos " +
      "FROM assigned a JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> p.qid) " +
      "SELECT qid, id2, cos, CAST(rn AS BIGINT) AS rn FROM (" +
      "SELECT qid, id2, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id2) AS rn " +
      s"FROM cand) WHERE rn <= $k"

  /** Column-by-column exact profile of lineitem (mirrors Profile.profile:
    * decimal-exact means, exact distinct counts, NULL fills for
    * non-applicable stats).
    */
  private[graft] def profileOracleSql: String = {
    val cols = Seq(
      ("l_orderkey", "bigint", "num"), ("l_partkey", "bigint", "num"),
      ("l_suppkey", "bigint", "num"), ("l_linenumber", "int", "num"),
      ("l_quantity", "double", "num"), ("l_extendedprice", "double", "num"),
      ("l_discount", "double", "num"), ("l_tax", "double", "num"),
      ("l_returnflag", "string", "str"), ("l_linestatus", "string", "str"),
      // timestamp flavors collapse to "timestamp" (Profile mirrors this):
      // the flavor is an environment fact that flips with writer settings
      ("l_shipdate", "timestamp", "other"))
    cols.map { case (n, t, kind) =>
      val num = kind == "num"
      val str = kind == "str"
      val minN = if (num) s"CAST(min($n) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
      val maxN = if (num) s"CAST(max($n) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
      val mean = if (num) s"CAST(sum(CAST($n AS DECIMAL(27,6))) AS DOUBLE) / count($n)"
                 else "CAST(NULL AS DOUBLE)"
      val lmin = if (str) s"CAST(min(length($n)) AS BIGINT)" else "CAST(NULL AS BIGINT)"
      val lmax = if (str) s"CAST(max(length($n)) AS BIGINT)" else "CAST(NULL AS BIGINT)"
      s"""SELECT '$n' AS "column", '$t' AS dtype, count(*) AS n_rows, """ +
        s"CAST(sum(CASE WHEN $n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
        s"count(DISTINCT $n) AS n_distinct, $minN AS min_num, $maxN AS max_num, " +
        s"$mean AS mean_num, $lmin AS min_len, $lmax AS max_len FROM lineitem"
    }.mkString(" UNION ALL ")
  }

  /** HLL-profile contract oracle: exact counts + a literal TRUE per
    * column — hash-matches iff every sketch honors its 5% bound.
    */
  private[graft] def profileApproxOracleSql: String =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate").map { n =>
      s"""SELECT '$n' AS "column", count(*) AS n_rows, """ +
        s"CAST(sum(CASE WHEN $n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
        s"count(DISTINCT $n) AS n_exact, TRUE AS approx_ok FROM lineitem"
    }.mkString(" UNION ALL ")

  private[graft] def markerSql(quotedList: String): String =
    s"CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ('$quotedList'))) AS BIGINT)"

  /** Stopword-profile language classifier replay — shared by lang_id (the
    * per-doc report) and lang_confusion (the evaluation matrix).
    */
  private[graft] lazy val langIdSql: String =
    "WITH s AS (SELECT doc_id, lang, " +
      s"${markerSql("the','and','of','to")} AS s_en, " +
      s"${markerSql("der','die','und','ist")} AS s_de, " +
      s"${markerSql("le','la','et','les")} AS s_fr, " +
      s"${markerSql("el','los','que','una")} AS s_es, " +
      "CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS s_zh " +
      "FROM documents) " +
      "SELECT doc_id, lang, CASE " +
      "WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en' " +
      "WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de' " +
      "WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr' " +
      "WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS pred_lang FROM s"

  private[graft] val RevenueSql =
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  // ---- dedup-family oracle SQL (DuckDB replay of the md5-portable
  //      minhash/simhash pipelines; permutation/band constants are inlined
  //      from the exact same Dedup.perms arrays the Spark side uses) -------

  /** list_value(sig_0, ..., sig_{numPerm-1}): the minhash signature. */
  private[graft] def minhashSigSql(numPerm: Int): String = {
    val (a, b) = graft.ops.Dedup.perms(numPerm)
    (0 until numPerm).map(i =>
      s"list_min(list_transform(hashes, h -> (${a(i)}*h + ${b(i)}) % ${graft.ops.Dedup.MinhashP}))")
      .mkString("list_value(", ", ", ")")
  }

  /** CTE chain ending in `mh(id1, id2, est_jaccard)`: the minhash-LSH
    * candidate pairs, mirroring Dedup.minhashLsh (incl. the
    * oversized-bucket hash-sampled multi-representative + two-stride ring
    * pairing).
    */
  private[graft] def minhashPairsCtes(numPerm: Int = 128, bands: Int = 16,
                               maxBucket: Int = 100, numReps: Int = 8,
                               where: String = ""): String = {
    val rows = numPerm / bands
    s"dw AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents$where), " +
      "dh AS (SELECT doc_id, list_transform(" +
      "list_transform(generate_series(1, len(ws)-2), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])), " +
      "s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hashes FROM dw WHERE len(ws) >= 3), " +
      s"sigs AS (SELECT doc_id, ${minhashSigSql(numPerm)} AS sig FROM dh), " +
      "banded AS (SELECT doc_id, sig, band, " +
      s"CAST('0x' || substr(md5(array_to_string(sig[band*$rows+1 : band*$rows+$rows], ',')), 1, 15) AS BIGINT) AS bsig " +
      s"FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, ${bands - 1})) AS band) bx), " +
      "stats AS (SELECT band, bsig, count(*) AS bucket_n, min(doc_id) AS rep FROM banded GROUP BY 1, 2), " +
      "tagged AS (SELECT b.doc_id, b.sig, b.band, b.bsig, s.bucket_n, s.rep " +
      "FROM banded b JOIN stats s ON b.band = s.band AND b.bsig = s.bsig), " +
      s"small AS (SELECT * FROM tagged WHERE bucket_n <= $maxBucket), " +
      "smallpairs AS (SELECT x.doc_id AS id1, y.doc_id AS id2, x.sig AS sig1, y.sig AS sig2 " +
      "FROM small x JOIN small y ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id), " +
      "hrank AS (SELECT band, bsig, doc_id, row_number() OVER (PARTITION BY band, bsig " +
      "ORDER BY CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT), doc_id) AS hr " +
      s"FROM tagged WHERE bucket_n > $maxBucket), " +
      s"reps AS (SELECT band, bsig, doc_id AS rid FROM hrank WHERE hr <= $numReps), " +
      "bigpairs AS (SELECT least(t.doc_id, r.rid) AS id1, greatest(t.doc_id, r.rid) AS id2, " +
      "s1.sig AS sig1, s2.sig AS sig2 " +
      "FROM tagged t JOIN reps r ON r.band = t.band AND r.bsig = t.bsig " +
      "JOIN sigs s1 ON s1.doc_id = least(t.doc_id, r.rid) " +
      "JOIN sigs s2 ON s2.doc_id = greatest(t.doc_id, r.rid) " +
      s"WHERE t.bucket_n > $maxBucket AND t.doc_id <> r.rid), " +
      "ringsrc AS (SELECT doc_id, sig, lead(doc_id) OVER (PARTITION BY band, bsig ORDER BY doc_id) AS next_id, " +
      "lead(doc_id, 2) OVER (PARTITION BY band, bsig ORDER BY doc_id) AS next2_id " +
      s"FROM tagged WHERE bucket_n > $maxBucket), " +
      "ringpairs AS (SELECT r.doc_id AS id1, r.next_id AS id2, r.sig AS sig1, s2.sig AS sig2 " +
      "FROM ringsrc r JOIN sigs s2 ON s2.doc_id = r.next_id WHERE r.next_id IS NOT NULL), " +
      "ringpairs2 AS (SELECT r.doc_id AS id1, r.next2_id AS id2, r.sig AS sig1, s3.sig AS sig2 " +
      "FROM ringsrc r JOIN sigs s3 ON s3.doc_id = r.next2_id WHERE r.next2_id IS NOT NULL), " +
      "allpairs AS (SELECT * FROM smallpairs UNION ALL SELECT * FROM bigpairs UNION ALL SELECT * FROM ringpairs UNION ALL SELECT * FROM ringpairs2), " +
      "mh AS (SELECT id1, id2, " +
      s"max(len(list_filter(generate_series(1, $numPerm), i -> sig1[i] = sig2[i])) / $numPerm.0) AS est_jaccard " +
      "FROM allpairs GROUP BY 1, 2)"
  }

  /** Oracle for Dedup.incrementalDedup: the src0 batch screened against
    * the rest of the corpus — mirrors the Scala operator's banding,
    * oversized-corpus-bucket representative rule, and best-match pick.
    */
  private[graft] def incrementalDedupSql(minJaccard: Double = 0.8, numPerm: Int = 128,
                                  bands: Int = 16, maxBucket: Int = 100,
                                  numReps: Int = 8): String = {
    val rows = numPerm / bands
    s"WITH dw AS (SELECT doc_id, source, string_split_regex(text, '\\s+') AS ws FROM documents), " +
      "dh AS (SELECT doc_id, source, list_transform(" +
      "list_transform(generate_series(1, len(ws)-2), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])), " +
      "s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hashes FROM dw WHERE len(ws) >= 3), " +
      s"sigs AS (SELECT doc_id, source, ${minhashSigSql(numPerm)} AS sig FROM dh), " +
      "nsig AS (SELECT doc_id, sig FROM sigs WHERE source = 'src0'), " +
      "csig AS (SELECT doc_id, sig FROM sigs WHERE source <> 'src0'), " +
      s"bx AS (SELECT unnest(generate_series(0, ${bands - 1})) AS band), " +
      "nb AS (SELECT doc_id, band, " +
      s"CAST('0x' || substr(md5(array_to_string(sig[band*$rows+1 : band*$rows+$rows], ',')), 1, 15) AS BIGINT) AS bsig " +
      "FROM nsig CROSS JOIN bx), " +
      "cb AS (SELECT doc_id, band, " +
      s"CAST('0x' || substr(md5(array_to_string(sig[band*$rows+1 : band*$rows+$rows], ',')), 1, 15) AS BIGINT) AS bsig " +
      "FROM csig CROSS JOIN bx), " +
      "cs AS (SELECT band, bsig, count(*) AS bucket_n FROM cb GROUP BY 1, 2), " +
      // oversized corpus buckets contribute numReps hash-sampled members
      // (md5-prefix order), mirroring Dedup.incrementalDedup's screen set
      "crep AS (SELECT band, bsig, doc_id FROM (" +
      "SELECT c.band, c.bsig, c.doc_id, row_number() OVER (PARTITION BY c.band, c.bsig " +
      "ORDER BY CAST('0x'||substr(md5(CAST(c.doc_id AS VARCHAR)),1,8) AS BIGINT), c.doc_id) AS hr " +
      "FROM cb c JOIN cs s ON s.band = c.band AND s.bsig = c.bsig " +
      s"WHERE s.bucket_n > $maxBucket) WHERE hr <= $numReps), " +
      "cand AS (SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid FROM nb n " +
      "JOIN cb c ON n.band = c.band AND n.bsig = c.bsig " +
      "JOIN cs s ON s.band = n.band AND s.bsig = n.bsig " +
      s"WHERE s.bucket_n <= $maxBucket " +
      "UNION SELECT DISTINCT n.doc_id, r.doc_id FROM nb n " +
      "JOIN crep r ON n.band = r.band AND n.bsig = r.bsig), " +
      "scored AS (SELECT nid, cid, " +
      s"len(list_filter(generate_series(1, $numPerm), i -> a.sig[i] = b.sig[i])) / $numPerm.0 AS est " +
      "FROM cand JOIN nsig a ON a.doc_id = nid JOIN csig b ON b.doc_id = cid), " +
      "rolled AS (SELECT nid, count(*) AS n_candidates, max(est) AS best_est FROM scored GROUP BY 1), " +
      // ties at the max estimate break to the lowest corpus id (est is an
      // exact k/128 double, so the equality join is safe)
      "best AS (SELECT s.nid, min(s.cid) AS best_match FROM scored s " +
      "JOIN rolled r ON s.nid = r.nid AND s.est = r.best_est GROUP BY 1), " +
      "rolled2 AS (SELECT rolled.nid, n_candidates, best_est, best_match FROM rolled JOIN best ON best.nid = rolled.nid) " +
      "SELECT d.doc_id, COALESCE(n_candidates, 0) AS n_candidates, best_match, best_est, " +
      s"(best_est IS NULL OR best_est < $minJaccard) AS novel " +
      "FROM (SELECT doc_id FROM documents WHERE source = 'src0') d " +
      "LEFT JOIN rolled2 ON rolled2.nid = d.doc_id"
  }

  /** CTE chain extending minhash pairs with exact shingle-set Jaccard:
    * ends in `jac(id1, id2, est_jaccard, jaccard)` (unfiltered).
    */
  private[graft] def jaccardCtes: String = jaccardCtesWhere("")

  /** [[jaccardCtes]] over a filtered document set (`where` is an SQL
    * predicate suffix like " WHERE doc_id % 2 = 0") — lets the stable-id
    * oracle replay the prior batch's pipeline on a subset.
    */
  private[graft] def jaccardCtesWhere(where: String): String =
    minhashPairsCtes(where = where) + ", " +
      "shg AS (SELECT doc_id, list_distinct(list_transform(" +
      "generate_series(1, len(ws)-2), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh FROM dw), " +
      "jac AS (SELECT m.id1, m.id2, m.est_jaccard, " +
      "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard " +
      "FROM mh m JOIN shg a ON a.doc_id = m.id1 JOIN shg b ON b.doc_id = m.id2)"

  /** Min-label components over the near-dup graph of a (possibly
    * filtered) document set, as a self-contained subquery — the building
    * block [[corpusDedupStableSql]] instantiates twice (prior batch +
    * today's corpus).
    */
  private[graft] def dedupLabelsSubquery(minJaccard: Double, where: String): String =
    s"(WITH RECURSIVE ${jaccardCtesWhere(where)}, " +
      s"edges0 AS (SELECT id1, id2 FROM jac WHERE jaccard >= $minJaccard), " +
      "edges AS (SELECT id1 AS a, id2 AS b FROM edges0 UNION SELECT id2, id1 FROM edges0), " +
      "nodes AS (SELECT DISTINCT a AS doc_id FROM edges), " +
      "comp AS (SELECT doc_id, doc_id AS lbl FROM nodes " +
      "UNION SELECT e.a AS doc_id, c.lbl FROM edges e JOIN comp c ON e.b = c.doc_id) " +
      "SELECT doc_id, min(lbl) AS cluster_id FROM comp GROUP BY 1)"

  /** DuckDB replay of Dedup.corpusDedupStable over a two-batch setup:
    * prior labels from the even-doc_id half, today over the full corpus,
    * then the claim/award relabel (rep-doc priority, min-fresh fallback)
    * and the keeper window — mirrors clustersStable exactly.
    */
  private[graft] def corpusDedupStableSql(minJaccard: Double): String =
    "WITH prior AS (SELECT * FROM " +
      dedupLabelsSubquery(minJaccard, " WHERE doc_id % 2 = 0") + "), " +
      "today AS (SELECT * FROM " + dedupLabelsSubquery(minJaccard, "") + "), " +
      "claims AS (SELECT DISTINCT t.cluster_id, p.cluster_id AS p " +
      "FROM today t JOIN prior p ON p.doc_id = t.doc_id), " +
      "repc AS (SELECT t.doc_id AS p, t.cluster_id AS rep_comp FROM today t " +
      "JOIN prior pr ON pr.doc_id = t.doc_id AND pr.cluster_id = pr.doc_id), " +
      "award AS (SELECT c.p, COALESCE(min(r.rep_comp), min(c.cluster_id)) AS cluster_id " +
      "FROM claims c LEFT JOIN repc r ON r.p = c.p GROUP BY c.p), " +
      "stab AS (SELECT cluster_id, min(p) AS stable FROM award GROUP BY 1), " +
      "lab AS (SELECT t.doc_id, COALESCE(s.stable, t.cluster_id) AS cluster_id " +
      "FROM today t LEFT JOIN stab s ON s.cluster_id = t.cluster_id), " +
      "qf AS (SELECT doc_id, " +
      "CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS nw, " +
      "CAST(length(text) AS DOUBLE) AS nc, " +
      "CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS np, " +
      "CAST(len(list_filter(string_split_regex(text, '\\s+'), " +
      "w -> w IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE) AS ns " +
      "FROM documents), " +
      "qual AS (SELECT doc_id, 0.5 * (ns / nw) + 0.3 * (1.0 - np / nc) + " +
      "0.2 * least(nw / 100.0, 1.0) AS score FROM qf) " +
      "SELECT l.doc_id, l.cluster_id, " +
      "(row_number() OVER (PARTITION BY l.cluster_id ORDER BY q.score DESC, l.doc_id) = 1) AS keep " +
      "FROM lab l JOIN qual q ON q.doc_id = l.doc_id"

  /** SimHash oracle: 60 bit-vote terms over portable 60-bit word hashes,
    * then pigeonhole chunk join — mirrors Dedup.simhashNearDup.
    */
  private[graft] def simhashNearDupSql(maxHamming: Int = 3): String = {
    val terms = (0 until 60).map { j =>
      s"(CASE WHEN list_sum(list_transform(wh, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
        s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    "WITH dw AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents " +
      "WHERE len(string_split_regex(text, '\\s+')) >= 1), " +
      "wh AS (SELECT doc_id, list_transform(ws, w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)) AS wh FROM dw), " +
      s"sh AS (SELECT doc_id, $terms AS simhash FROM wh), " +
      "chunked AS (SELECT doc_id, simhash, chunk, (simhash >> (chunk*15)) & 32767 AS cval " +
      "FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS chunk) cx) " +
      "SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2, " +
      "CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming " +
      "FROM chunked x JOIN chunked y ON x.chunk = y.chunk AND x.cval = y.cval AND x.doc_id < y.doc_id " +
      s"WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxHamming"
  }

  /** Connected components + keeper pick, mirroring Dedup.corpusDedup:
    * recursive min-label reachability over symmetric near-dup edges, then
    * one keeper per cluster (best quality score, ties lowest doc_id).
    */
  /** DuckDB replay of [[graft.ops.Layout.zorderKey]]: the identical
    * `cols.size * bits` shift/and/or interleave terms (bit j of column c
    * lands at j*k + c), emitted as one `|`-joined expression.
    */
  private[graft] def zorderSqlExpr(cols: Seq[String], bits: Int): String =
    (for { c <- cols.indices; j <- 0 until bits }
      yield s"(((${cols(c)} >> $j) & 1) << ${j * cols.size + c})")
      .mkString(" | ")

  /** DuckDB replay of [[graft.ops.Layout.curveSkip]]: normalize + z
    * interleave, then the Hilbert unroll as generated per-level CTEs
    * (i8 seeds state, i7..i0 apply [[graft.ops.Layout.hilbertIterSql]]),
    * then one stats CTE per layout and a 6-row UNION in the exact
    * (layout, pred) order the Spark side unions.
    */
  /** RRF fusion replay: the bm25_search CTE chain ranked to top-20, the
    * ann_topk exact-cosine chain for the one query vector, full-outer
    * fused with 1/(60+rank) reciprocal contributions (absent list = 0).
    */
  private[graft] def hybridRrfSql: String =
    "WITH lens AS (SELECT doc_id, " +
      "COALESCE(CAST(len(string_split_regex(text, '\\s+')) AS BIGINT), 0) AS dl FROM documents), " +
      "stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM lens), " +
      "q AS (SELECT unnest(['spark', 'join', 'data']) AS term), " +
      "toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, toks.term, count(*) AS tf FROM toks JOIN q ON q.term = toks.term GROUP BY 1, 2), " +
      "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1), " +
      "contrib AS (SELECT tf.doc_id, " +
      "CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / " +
      "(tf + 1.2 * (0.25 + (0.75 * dl) / (CAST(tot AS DOUBLE) / n))), 6) AS DECIMAL(18,6)) AS c " +
      "FROM tf JOIN df ON df.term = tf.term JOIN lens ON lens.doc_id = tf.doc_id CROSS JOIN stats), " +
      "lex AS (SELECT doc_id, rn AS lex_rn FROM (" +
      "SELECT doc_id, CAST(row_number() OVER (ORDER BY CAST(sum(c) AS DOUBLE) DESC, doc_id) AS BIGINT) AS rn " +
      "FROM contrib GROUP BY 1) WHERE rn <= 20), " +
      "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "qv AS (SELECT * FROM e WHERE vec_id = 3), " +
      "sem AS (SELECT doc_id, rn AS sem_rn FROM (" +
      "SELECT e.vec_id AS doc_id, CAST(row_number() OVER (" +
      "ORDER BY round(list_cosine_similarity(qv.v, e.v), 6) DESC, e.vec_id) AS BIGINT) AS rn " +
      "FROM qv JOIN e ON e.vec_id <> qv.vec_id) WHERE rn <= 20), " +
      "f AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rn, sem_rn, " +
      "round(COALESCE(CAST(1.0 AS DOUBLE) / (60 + lex_rn), 0) + " +
      "COALESCE(CAST(1.0 AS DOUBLE) / (60 + sem_rn), 0), 6) AS rrf " +
      "FROM lex FULL OUTER JOIN sem ON sem.doc_id = lex.doc_id) " +
      "SELECT doc_id, lex_rn, sem_rn, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 10"

  /** MMR replay: exact top-n candidates + their pair-sim matrix, then the
    * k greedy steps UNROLLED as chained CTEs (sel_i picks the per-qid
    * argmax of 0.7·rel − 0.3·maxsim over pairs restricted to the selected
    * set selu_{i−1}) — one shared per-step template, the hilbertSkipSql
    * idiom.
    */
  private[graft] def mmrRerankSql(n: Int = 8, k: Int = 4): String = {
    val base =
      "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "q AS (SELECT * FROM e WHERE vec_id < 3), " +
        "cand0 AS (SELECT q.vec_id AS qid, e.vec_id AS doc_id, " +
        "round(list_cosine_similarity(q.v, e.v), 6) AS rel, e.v AS v, " +
        "row_number() OVER (PARTITION BY q.vec_id " +
        "ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC, e.vec_id) AS rn " +
        "FROM q JOIN e ON e.vec_id <> q.vec_id), " +
        s"cand AS (SELECT qid, doc_id, rel, v FROM cand0 WHERE rn <= $n), " +
        // sim/rel quantize to DECIMAL(8,6); λ·rel − μ·maxsim is then an
        // EXACT 7-decimal value whose round-to-6 is engine-independent
        // (as doubles, 7th-digit-5 boundaries split Spark vs DuckDB)
        "pairs AS (SELECT c1.qid, c1.doc_id AS a, c2.doc_id AS b, " +
        "CAST(round(list_cosine_similarity(c1.v, c2.v), 6) AS DECIMAL(8,6)) AS sim " +
        "FROM cand c1 JOIN cand c2 ON c1.qid = c2.qid AND c1.doc_id <> c2.doc_id), " +
        "sel1 AS (SELECT qid, doc_id, CAST(1 AS BIGINT) AS step, score FROM (" +
        "SELECT qid, doc_id, CAST(round(0.7 * CAST(rel AS DECIMAL(8,6)), 6) AS DOUBLE) AS score, " +
        "row_number() OVER (PARTITION BY qid " +
        "ORDER BY CAST(round(0.7 * CAST(rel AS DECIMAL(8,6)), 6) AS DOUBLE) DESC, doc_id) AS rn " +
        "FROM cand) WHERE rn = 1), " +
        "selu1 AS (SELECT * FROM sel1)"
    val steps = (2 to k).map { i =>
      val p = i - 1
      val scoreExpr =
        "CAST(round(0.7 * CAST(r.rel AS DECIMAL(8,6)) - 0.3 * m.maxsim, 6) AS DOUBLE)"
      s"sel$i AS (SELECT qid, a AS doc_id, CAST($i AS BIGINT) AS step, score FROM (" +
        s"SELECT m.qid, m.a, $scoreExpr AS score, " +
        "row_number() OVER (PARTITION BY m.qid " +
        s"ORDER BY $scoreExpr DESC, m.a) AS rn " +
        s"FROM (SELECT p.qid, p.a, max(p.sim) AS maxsim FROM pairs p " +
        s"JOIN selu$p s ON s.qid = p.qid AND s.doc_id = p.b " +
        s"WHERE NOT EXISTS (SELECT 1 FROM selu$p x WHERE x.qid = p.qid AND x.doc_id = p.a) " +
        "GROUP BY 1, 2) m " +
        "JOIN cand r ON r.qid = m.qid AND r.doc_id = m.a) WHERE rn = 1), " +
        s"selu$i AS (SELECT * FROM selu$p UNION ALL SELECT * FROM sel$i)"
    }.mkString(", ")
    s"WITH $base, $steps SELECT qid, step, doc_id, score FROM selu$k"
  }

  private[graft] def hilbertSkipSql: String = {
    val zex = zorderSqlExpr(Seq("xn", "yn"), 8)
    val iters = (7 to 0 by -1).map { lvl =>
      val prev = if (lvl == 7) "i8" else s"i${lvl + 1}"
      s"i$lvl AS (${graft.ops.Layout.hilbertIterSql(lvl, 8, Seq("xn", "yn", "z"))} FROM $prev)"
    }.mkString(", ")
    def statsCte(name: String, bucket: String) =
      s"$name AS (SELECT $bucket AS file_id, min(xn) AS min_x, max(xn) AS max_x, " +
        "min(yn) AS min_y, max(yn) AS max_y, count(*) AS n FROM hv GROUP BY 1)"
    def row(layout: String, cte: String, pred: String,
            x1: Long, x2: Long, y1: Long, y2: Long) =
      s"SELECT '$layout' AS layout, '$pred' AS pred, " +
        "CAST(count(*) AS BIGINT) AS files_total, " +
        s"CAST(sum(CASE WHEN min_x <= $x2 AND max_x >= $x1 AND min_y <= $y2 " +
        s"AND max_y >= $y1 THEN 1 ELSE 0 END) AS BIGINT) AS files_read, " +
        s"CAST(sum(CASE WHEN min_x <= $x2 AND max_x >= $x1 AND min_y <= $y2 " +
        s"AND max_y >= $y1 THEN n ELSE 0 END) AS BIGINT) AS rows_read FROM $cte"
    "WITH mx AS (SELECT max(l_partkey) AS mx, max(l_suppkey) AS my FROM lineitem), " +
      "base AS (SELECT (l_partkey * 256) // (mx + 1) AS xn, " +
      "(l_suppkey * 256) // (my + 1) AS yn FROM lineitem, mx), " +
      s"zc AS (SELECT xn, yn, $zex AS z FROM base), " +
      "i8 AS (SELECT xn, yn, z, xn AS hx, yn AS hy, CAST(0 AS BIGINT) AS hd FROM zc), " +
      iters + ", " +
      "hv AS (SELECT xn, yn, z, hd AS h FROM i0), " +
      statsCte("lf", "xn >> 3") + ", " +
      statsCte("zf", "z >> 11") + ", " +
      statsCte("hf", "h >> 11") + " " +
      Seq(
        row("linear_x", "lf", "center_box", 64, 95, 64, 95),
        row("linear_x", "lf", "x_band", 120, 135, 0, 255),
        row("linear_x", "lf", "y_band", 0, 255, 120, 135),
        row("zorder", "zf", "center_box", 64, 95, 64, 95),
        row("zorder", "zf", "x_band", 120, 135, 0, 255),
        row("zorder", "zf", "y_band", 0, 255, 120, 135),
        row("hilbert", "hf", "center_box", 64, 95, 64, 95),
        row("hilbert", "hf", "x_band", 120, 135, 0, 255),
        row("hilbert", "hf", "y_band", 0, 255, 120, 135)).mkString(" UNION ALL ")
  }

  private[graft] def corpusDedupSql(minJaccard: Double): String =
    s"WITH RECURSIVE $jaccardCtes, " +
      s"edges0 AS (SELECT id1, id2 FROM jac WHERE jaccard >= $minJaccard), " +
      "edges AS (SELECT id1 AS a, id2 AS b FROM edges0 UNION SELECT id2, id1 FROM edges0), " +
      "nodes AS (SELECT DISTINCT a AS doc_id FROM edges), " +
      "comp AS (SELECT doc_id, doc_id AS lbl FROM nodes " +
      "UNION SELECT e.a AS doc_id, c.lbl FROM edges e JOIN comp c ON e.b = c.doc_id), " +
      "labels AS (SELECT doc_id, min(lbl) AS cluster_id FROM comp GROUP BY 1), " +
      "qf AS (SELECT doc_id, " +
      "CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS nw, " +
      "CAST(length(text) AS DOUBLE) AS nc, " +
      "CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS np, " +
      "CAST(len(list_filter(string_split_regex(text, '\\s+'), " +
      "w -> w IN ('the','a','and','of','to','in','is','it','for','on'))) AS DOUBLE) AS ns " +
      "FROM documents), " +
      "qual AS (SELECT doc_id, 0.5 * (ns / nw) + 0.3 * (1.0 - np / nc) + " +
      "0.2 * least(nw / 100.0, 1.0) AS score FROM qf) " +
      "SELECT l.doc_id, l.cluster_id, " +
      "(row_number() OVER (PARTITION BY l.cluster_id ORDER BY q.score DESC, l.doc_id) = 1) AS keep " +
      "FROM labels l JOIN qual q ON q.doc_id = l.doc_id"
}
