package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
  * corpus into cells; search scans only the query's `nprobe` nearest
  * cells. Complements the hyperplane-LSH path (ops.Similarity.lshTopK).
  *
  * Every centroid face (IVF search, kNN graph, SemDeDup, sampling,
  * outliers, screening, IVF-PQ) exists once and takes a [[Quantizer]]:
  * the flat centroid matrix ([[Flat]], from [[train]]) or the two-level
  * model ([[TwoLevelModel]], from [[trainTwoLevel]]). The quantizer owns
  * routing, centroid lookups, probe ranking and persistence; the kernels
  * never see which one ran.
  *
  * Scale design: the centroid model is a k-row driver-side array (exactly
  * like an MLlib model); assignment is a single fused map-side argmax
  * expression over the broadcast centroid matrix (graft.functions
  * .NearestCell) — no crossJoin, no window, zero shuffle until the probed
  * cells' candidate join; final top-k is a bounded partial aggregate.
  * Deterministic: centroid init takes the k lowest vec_ids; cosines are
  * rounded to 6 decimals before every argmax/ordering, ties break on the
  * lower cell id.
  */
object Ivf {

  // null embeddings (malformed feed rows) drop at the parse boundary —
  // every collector below reads v with getSeq and would NPE otherwise;
  // `passthrough` metadata columns ride along (see ivfPqReconFrame)
  private def vecs(emb: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    emb.where(col("embedding").isNotNull)
      .select((Seq(col("vec_id"), col("embedding").cast("array<double>").as("v")) ++
        passthrough.map(col)): _*)

  // a query frame's parsed vectors as (qid, qv)
  private def queryVecs(queries: DataFrame): DataFrame =
    vecs(queries).select(col("vec_id").as("qid"), col("v").as("qv"))

  /** Map-only nearest-cell assignment via the fused native argmax.
    * Empty model (empty corpus at train time) → empty assignment with
    * the full schema — the ivfPqEncodedFrame empty contract, applied at
    * the primitive every search/classify/sample path goes through, so an
    * empty upstream partition yields empty RESULTS, not a 2am crash
    * (EmptySweep pins this for the whole registry).
    */
  private[graft] def assign(e: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    if (centroids.isEmpty) e.limit(0).withColumn("cid", lit(0).cast("int"))
    else e.withColumn("cid", graft.functions.nearest_cell(
      col("v"), centroids.flatten, centroids.length, centroids.head.length))

  /** The centroid matrix as a literal array-of-arrays column:
    * `element_at(centLit(c), cid + 1)` looks a centroid up map-side with
    * no join. Fine at coarse-quantizer k (k·dim literals — the documented
    * codegen-fallback caveat from the ANN serving path applies).
    */
  private def centLit(cents: Array[Array[Double]]): Column =
    array(cents.toIndexedSeq.map(c => array(c.toIndexedSeq.map(lit(_)): _*)): _*)

  /** The k-row (cid, cvec) centroid table as a local DataFrame: the
    * on-disk model rows and the two-level probe's broadcast side.
    */
  private def centroidsDf(spark: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cid", "cvec")
  }

  /** Materialize a (cid, cvec) frame driver-side as the model array. A
    * k-means *model* belongs on the driver, exactly like MLlib's — this
    * also keeps each Lloyd iteration's lineage flat.
    */
  private def localize(centroids: DataFrame): Array[Array[Double]] =
    centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)

  /** THE compaction contract shared by every collected mean table:
    * assemble per-id arrays from (id, pos, x) rows — present ids only,
    * compacted, sorted; components filled by pos. Column positions are
    * parameters so the fused multi-book rows (s, cid, pos, x) reuse it.
    */
  private def assembleByPos(rows: Seq[org.apache.spark.sql.Row], dim: Int,
                            idAt: Int = 0, posAt: Int = 1,
                            xAt: Int = 2): Array[Array[Double]] =
    rows.groupBy(_.getInt(idAt)).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        val a = new Array[Double](dim)
        rs.foreach(r => a(r.getInt(posAt)) = r.getDouble(xAt))
        a
      }.toArray

  /** Assemble the centroid matrix from per-dimension rows (cid, pos, x) —
    * k·d rows collect straight off the single (cid, pos) aggregation, so
    * each Lloyd round skips a second shuffle + collect_list/array_sort
    * pass. Present cids only, sorted (same contract as `localize`).
    */
  private def localizePos(rows: DataFrame, dim: Int): Array[Array[Double]] =
    assembleByPos(rows.collect().toIndexedSeq, dim)

  /** Train the coarse quantizer: k centroids as a driver-side matrix.
    * Centroid means go through exact DECIMAL(30,15) partial sums, so each
    * Lloyd round is bit-identical under any shuffle order AND replayable
    * by any SQL engine — deterministic distributed training, the property
    * that makes `ann_ivf_trained` oracle-checkable end to end.
    */
  def train(emb: DataFrame, k: Int = 16, iters: Int = 2): Array[Array[Double]] = {
    val d = org.apache.spark.sql.types.DecimalType(30, 15)
    val e = vecs(emb)
    // seed = the k lowest vec_ids; cid assignment happens driver-side on
    // the (already k-row) collected seed set — no global row_number window
    // (an unpartitioned WindowExec, even over k rows, single-partitions
    // the frame and spams "No Partition Defined" into every log)
    var cents = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast("long").as("vec_id"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    if (cents.isEmpty) return cents // empty corpus -> empty model
    val dim = cents.head.length
    (1 to iters).foreach { _ =>
      cents = localizePos(assign(e, cents)
        .select(col("cid"), posexplode(col("v")))
        .toDF("cid", "pos", "x")
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("x").cast(d)).cast("double") / count(lit(1))).as("x"))
        .select(col("cid"), col("pos").cast("int").as("pos"), col("x")), dim)
    }
    cents
  }

  /** One Lloyd refinement step from GIVEN centroids — the incremental
    * retrain primitive (yesterday's model + today's corpus → today's
    * model): assignment under the old centroids, then the same exact
    * DECIMAL(30,15) per-(cid, pos) means `train` uses, so the step is
    * bit-identical under any shuffle order and replayable by the oracle.
    * Cells that lose every member drop and later cids compact (the
    * `train`/`localizePos` convention, documented there).
    */
  def retrain(emb: DataFrame, cents: Array[Array[Double]]): Array[Array[Double]] = {
    if (cents.isEmpty) return cents
    val d = org.apache.spark.sql.types.DecimalType(30, 15)
    localizePos(assign(vecs(emb), cents)
      .select(col("cid"), posexplode(col("v")))
      .toDF("cid", "pos", "x")
      .groupBy(col("cid"), col("pos"))
      .agg((sum(col("x").cast(d)).cast("double") / count(lit(1))).as("x"))
      .select(col("cid"), col("pos").cast("int").as("pos"), col("x")),
      cents.head.length)
  }

  /** EMBEDDING DRIFT monitor — the production question a nightly vector
    * pipeline asks before reusing yesterday's index: train on the prior
    * snapshot (here the even vec_ids — the dedup_incremental replay
    * convention), refine ONCE over today's full corpus ([[retrain]], so
    * cells stay aligned by construction — each new centroid is the mean
    * of the vectors its OLD centroid attracted), and report per cell the
    * centroid's cosine to its old self plus the ASSIGNMENT CHURN of the
    * prior vectors (fraction whose nearest cell changed). Low drift_cos
    * or high churn_rate = retrain/re-encode before serving.
    *
    * Scale shape: both models are driver-side matrices (the MLlib
    * altitude); the churn pass is ONE map-only scan of the prior slice
    * with BOTH fused nearest-cell argmaxes inline (no join), one
    * cell-dim aggregation; the drift cosine runs through the same native
    * cosine expression the ANN paths use (k rows).
    */
  def centroidDrift(emb: DataFrame, numCells: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val prior = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val centsOld = train(prior, numCells, iters = 1)
    if (centsOld.isEmpty)
      return emb.select(col("vec_id").as("cid"), lit(0d).as("drift_cos"),
        lit(0L).as("n_members"), lit(0L).as("n_moved"),
        lit(0d).as("churn_rate")).limit(0)
    val centsNew = retrain(emb, centsOld)
    val dim = centsOld.head.length
    val drift = centsOld.zip(centsNew).zipWithIndex
      .map { case ((o, n), i) => (i.toLong, o.toSeq, n.toSeq) }.toSeq
      .toDF("cid", "ov", "nv")
      .select(col("cid"),
        round(graft.functions.cosine_sim(col("ov"), col("nv")), 6).as("drift_cos"))
    val e = vecs(prior)
    val oldCid = graft.functions.nearest_cell(
      col("v"), centsOld.flatten, centsOld.length, dim)
    val newCid = graft.functions.nearest_cell(
      col("v"), centsNew.flatten, centsNew.length, dim)
    val churn = e
      .select(oldCid.cast("long").as("cid"),
        (oldCid.cast("long") =!= newCid.cast("long")).as("moved"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("moved"), lit(1L)).otherwise(lit(0L))).as("n_moved"))
    drift.join(churn, Seq("cid"), "left")
      .select(col("cid"), col("drift_cos"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("n_moved"), lit(0L)).as("n_moved"),
        round(coalesce(col("n_moved"), lit(0L)).cast("double") /
          when(coalesce(col("n_members"), lit(0L)) > 0,
            col("n_members").cast("double")), 6).as("churn_rate"))
  }

  /** Embedding-quality confusion matrix: mean centroid per label
    * (decimal-exact, deterministic like `train`), every vector classified
    * to its nearest label centroid via the fused map-side argmax, counts
    * per (true label, predicted label). Labels must be dense 0..k-1 (cid
    * == label). One shuffle for the centroid means, one for the final
    * count; classification itself is map-only.
    */
  def labelConfusion(emb: DataFrame): DataFrame = {
    val d = org.apache.spark.sql.types.DecimalType(30, 15)
    val e = emb.where(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val cents = localize(e
      .select(col("label").cast("int").as("cid"), posexplode(col("v")))
      .toDF("cid", "pos", "x")
      .groupBy(col("cid"), col("pos"))
      .agg((sum(col("x").cast(d)).cast("double") / count(lit(1))).as("x"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("x")))),
        s => s.getField("x")).as("cvec")))
    assign(e, cents)
      .groupBy(col("label"), col("cid").cast("long").as("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Product quantization encode: each vector split into `m` subspaces,
    * each subspace assigned to its nearest codebook centroid — the
    * compression step that turns a 100 TB float vector store into
    * m bytes/vector (here m codes + a reconstruction-quality column).
    * Codebooks follow the Ivf seed contract (the k lowest vec_ids'
    * subvectors), so the whole encode replays in SQL; assignment is the
    * same fused map-side `nearest_cell` argmax per subspace — ZERO
    * shuffle, the codebook matrix is an m×k driver-side model like
    * `train`'s. `recon_cos` = cosine(v, concatenated chosen centroids),
    * the per-vector quantization-quality signal (rounded).
    */
  def pqEncode(emb: DataFrame, m: Int = 4, k: Int = 16): DataFrame =
    pqEncoded(emb, m, k).select(Seq(col("vec_id")) ++
      (0 until m).map(s => col(s"code$s").cast("long").as(s"code$s")) :+
      round(graft.functions.cosine_sim(col("v"), col("recon")), 6).as("recon_cos"): _*)

  /** Shared encode frame: (vec_id, v, code0..m-1, recon) — recon is the
    * concatenation of the chosen subspace centroids via literal-array
    * lookup, no join.
    */
  private def pqEncoded(emb: DataFrame, m: Int, k: Int): DataFrame = {
    val e = vecs(emb)
    val seeds = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast("long").as("vec_id"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    // empty corpus → no codebooks: empty frame, full schema (the assign /
    // ivfPqEncodedFrame empty contract)
    if (seeds.isEmpty)
      return (0 until m).foldLeft(e.limit(0)) { (df, s) =>
        df.withColumn(s"code$s", lit(0).cast("int"))
      }.withColumn("recon", col("v"))
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val sub = dim / m
    val books = (0 until m).map(s => seeds.map(_.slice(s * sub, (s + 1) * sub)))
    // literal codebook arrays: element_at(codebook, code+1) reconstructs
    // the chosen centroid without any join
    val bookLit = (s: Int) => array(books(s).map(c =>
      array(c.toIndexedSeq.map(lit(_)): _*)).toIndexedSeq: _*)
    val coded = (0 until m).foldLeft(e) { (df, s) =>
      df.withColumn(s"code$s", graft.functions.nearest_cell(
        slice(col("v"), s * sub + 1, sub), books(s).flatten, k, sub))
    }
    coded.withColumn("recon", concat((0 until m).map(s =>
      element_at(bookLit(s), col(s"code$s") + 1)): _*))
  }

  /** PQ-approximate top-k search over the COMPRESSED corpus: each
    * candidate is scored as cosine(query, reconstructed candidate) — the
    * value an ADC (asymmetric-distance) scan serves from per-subspace
    * lookup tables without ever touching the original vectors; here the
    * reconstruction is a literal-array lookup fused into the same
    * codegen stage, so the corpus side stays map-only and the bounded-heap
    * TopKByScore aggregate keeps the ranking shuffle at O(k) rows per
    * query per task. The quality/throughput sibling of `ann_ivf`:
    * ~m·log2(k) bytes of index state per vector instead of the full
    * float array.
    */
  def pqSearch(emb: DataFrame, queries: DataFrame, k: Int,
               m: Int = 4, kCode: Int = 16): DataFrame =
    pqSearchWith(pqReconFrame(emb, m, kCode), queries, k)

  /** The (vec_id, recon) compressed-corpus frame `pqSearch` scans — the
    * serve-time half of encode-once/search-many: encode (and persist /
    * cache) per corpus snapshot, then feed every search — batch
    * [[pqSearchWith]] or streaming
    * [[graft.streaming.StreamingAnnServe.servePq]] — the same frame
    * instead of re-running the codebook encode per query set.
    */
  def pqReconFrame(emb: DataFrame, m: Int = 4, k: Int = 16): DataFrame =
    pqEncoded(emb, m, k).select(col("vec_id"), col("recon"))

  /** PQ top-k against an ALREADY-ENCODED corpus frame (from
    * [[pqReconFrame]]) — skips codebook training + encode entirely.
    */
  def pqSearchWith(enc: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queryVecs(queries)
    Similarity.topK(enc.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id2"),
        round(graft.functions.cosine_sim(col("qv"), col("recon")), 6).as("cos")), k)
  }

  /** IVF-PQ residual index — the standard billion-vector serving layout,
    * composing the coarse quantizer with product quantization
    * ([[pqEncode]]'s codebook machinery) the way FAISS's IVFPQ does: each
    * vector stores its coarse cell id plus PQ codes of the RESIDUAL
    * (v − its cell's centroid), so the fine codebooks only have to cover
    * the (much tighter) within-cell displacement distribution instead of
    * the whole embedding space — better reconstruction at equal code
    * bytes than plain PQ, and search can skip unprobed cells entirely.
    *
    * Scale design: the coarse model is the driver-side [[Quantizer]], the
    * residual codebooks follow the seed contract of [[pqCodeResiduals]];
    * cell assignment, residual subtraction, per-subspace code assignment
    * and reconstruction are ONE map-only pass over one materialized
    * routing scan (zero shuffle). Emits (vec_id, cid, code0..m-1,
    * recon_cos).
    */
  def ivfPqEncode(emb: DataFrame, quantizer: Quantizer,
                  m: Int = 4, k: Int = 16): DataFrame =
    ivfPqEncodedFrame(emb, quantizer, m, k, Nil)
      .select(Seq(col("vec_id"), col("cid").cast("long").as("cid")) ++
        (0 until m).map(s => col(s"code$s").cast("long").as(s"code$s")) :+
        round(graft.functions.cosine_sim(col("v"), col("recon")), 6).as("recon_cos"): _*)

  /** The (vec_id, cid, recon) compressed-corpus frame the IVF-PQ searches
    * scan — encode once per corpus snapshot, search many times.
    *
    * `passthrough` names metadata columns of `emb` to CARRY THROUGH the
    * (map-only) encode onto the index rows — the zero-shuffle way to
    * make the index WHERE-composable on metadata. Joining the metadata
    * table onto the returned frame is equivalent in rows but costs a
    * corpus-scale equi-join (two exchanges + sorts at 100 TB, or a
    * bucketing requirement); the encode already scans every row, so a
    * predicate column rides along for free.
    */
  def ivfPqReconFrame(emb: DataFrame, quantizer: Quantizer,
                      m: Int = 4, k: Int = 16,
                      passthrough: Seq[String] = Nil): DataFrame =
    ivfPqEncodedFrame(emb, quantizer, m, k, passthrough)
      .select((Seq("vec_id", "cid", "recon") ++ passthrough).map(col): _*)

  /** Shared IVF-PQ encode frame: (vec_id, v, passthrough…, cid,
    * code0..m-1, recon) with recon = centroid[cid] + the concatenated
    * chosen residual-codebook centroids. The quantizer supplies the
    * residual frame and the centroid add-back; the codebooks are
    * [[pqCodeResiduals]]' `bookIters` decimal-exact Lloyd rounds ON THE
    * RESIDUALS — the FAISS-style step that matters here: residual
    * variance is exactly what distinguishes within-cell neighbors, and
    * raw seed slices quantize it too coarsely to rank them (measured:
    * full-probe recall 0.14 untrained vs ≥ plain PQ trained). Means are
    * decimal-exact like `train`'s, so the whole encode — both quantizer
    * trainings included — replays in SQL.
    */
  private def ivfPqEncodedFrame(emb: DataFrame, quantizer: Quantizer,
                                m: Int, k: Int, passthrough: Seq[String],
                                bookIters: Int = 1): DataFrame = {
    // empty model (empty corpus, or an explicitly empty quantizer) →
    // empty frame with the full output schema, not a crash: the codebook
    // kernel needs the model's dimension
    if (quantizer.isEmpty)
      return (0 until m).foldLeft(
        vecs(emb, passthrough).limit(0).withColumn("cid", lit(0).cast("int"))
          .withColumn("res", col("v"))) { (df, s) =>
        df.withColumn(s"code$s", lit(0).cast("int"))
      }.withColumn("recon", col("v"))
    val (res, addCentroid) = quantizer.residuals(emb, passthrough)
    addCentroid(pqCodeResiduals(res, m, k, quantizer.dim, bookIters))
  }

  /** The residual-PQ codebook kernel (the codebook math never sees which
    * coarse quantizer produced the residuals): given a MATERIALIZED
    * (vec_id, v, cid, res) frame, seed per-subspace codebooks from k
    * residual slices in portable md5-prefix order, refine with
    * `bookIters` decimal-exact Lloyd rounds, code every row, and emit the
    * input columns plus code0..m-1 and `rescon` — the concatenated chosen
    * residual centroids (the quantizer adds its centroid back to finish
    * recon).
    */
  private def pqCodeResiduals(res: DataFrame, m: Int, k: Int, dim: Int,
                              bookIters: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val sub = dim / m
    // Codebook seeds picked in the portable md5-prefix hash order, NOT
    // by lowest vec_id: the k lowest vec_ids are exactly the COARSE
    // quantizer's seed members, whose residuals are ~zero (identically
    // zero at iters = 0) — k copies of the zero vector as Lloyd seeds
    // collapse the whole book to ONE effective code, recon degenerates
    // to svec + the global mean residual, and every candidate in a cell
    // ties at the same rounded ADC score (the r14 recall table measured
    // adc@5 = 0.04, invariant in m, before this fix; 16/16 codes live
    // and recall restored after). Hash order is the same engine-wide
    // portable pick (semanticSample/screenOnCells) and the oracle replays it
    // verbatim; slot order stays (vec_id asc) so the codebook layout is
    // deterministic regardless of pick order.
    val seeds = res
      .orderBy(graft.functions.md5_prefix_long(col("vec_id").cast("string"), 8),
        col("vec_id"))
      .limit(k)
      .select(col("vec_id").cast("long").as("vec_id"), col("res"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    var books = (0 until m).map(s => seeds.map(_.slice(s * sub, (s + 1) * sub)))
    val d = org.apache.spark.sql.types.DecimalType(30, 15)
    (1 to bookIters).foreach { _ =>
      // Lloyd round over ALL m subspace books in ONE job: each row
      // explodes into its m (subspace, code, slice) assignments, then a
      // single (s, cid, pos)-keyed decimal-exact mean — m·k·sub rows
      // collect (dim-scale). Per-book semantics identical to m separate
      // jobs (same groups, same exact sums); present codes compact,
      // sorted — the localizePos contract, mirrored by the oracle.
      val rows = res.select(explode(array((0 until m).map { s =>
          val sl = slice(col("res"), s * sub + 1, sub)
          struct(lit(s).as("s"),
            graft.functions.nearest_cell(
              sl, books(s).flatten, books(s).length, sub).as("cid"),
            sl.as("sl"))
        }: _*)).as("e"))
        .select(col("e.s").as("s"), col("e.cid").as("cid"), posexplode(col("e.sl")))
        .toDF("s", "cid", "pos", "x")
        .groupBy(col("s"), col("cid"), col("pos"))
        .agg((sum(col("x").cast(d)).cast("double") / count(lit(1))).as("x"))
        .collect()
      books = (0 until m).map(s =>
        assembleByPos(rows.filter(_.getInt(0) == s).toIndexedSeq, sub,
          idAt = 1, posAt = 2, xAt = 3))
    }
    val coded = (0 until m).foldLeft(res) { (df, s) =>
      df.withColumn(s"code$s", graft.functions.nearest_cell(
        slice(col("res"), s * sub + 1, sub), books(s).flatten,
        books(s).length, sub))
    }
    coded.withColumn("rescon", concat((0 until m).map(s =>
      element_at(centLit(books(s)), col(s"code$s") + 1)): _*))
  }

  /** IVF-PQ top-k search over an encoded corpus frame (from
    * [[ivfPqReconFrame]]): probe each query's `nprobe` nearest cells and
    * ADC-score ONLY those cells' members against their residual
    * reconstructions — the memory-bound serving scan (`ann_ivf`'s cell
    * pruning × `pq_search`'s compressed scoring in one index). The
    * (qid, qv, cid) probe frame broadcasts onto the encoded corpus and
    * the bounded top-k heap closes the ranking.
    */
  def ivfPqSearch(enc: DataFrame, quantizer: Quantizer, queries: DataFrame,
                  k: Int, nprobe: Int = 4): DataFrame =
    Similarity.topK(probed(enc, quantizer.probes(queries, nprobe), "recon"), k)

  /** The probed-cell candidates every IVF search scores: the (qid, qv,
    * cid) probe rows broadcast onto the corpus rows of those cells, each
    * pair scored by rounded cosine to `scoreCol` (the raw `v`, or the
    * IVF-PQ `recon`), self-matches dropped. Emits (qid, id2, cos).
    */
  private[graft] def probed(cells: DataFrame, probes: DataFrame,
                            scoreCol: String = "v"): DataFrame =
    cells.join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id2"),
        round(graft.functions.cosine_sim(col("qv"), col(scoreCol)), 6).as("cos"))

  /** IVF-PQ search with an exact re-rank stage — the standard last mile
    * of the compressed serving story: the ADC scan surfaces top-k′
    * (k′ = kFactor·k) candidates from the COMPRESSED corpus `enc`, then
    * only those |q|·k′ rows gather their RAW vectors back from `emb` for
    * an exact-cosine re-rank that keeps the final top-k. Exact scores
    * kill the ADC overestimation artifact inside the candidate set —
    * measured ≈2× the plain ADC recall at every nprobe (§4). Strict
    * monotonicity in nprobe is NOT restored, though: the k′ cut itself is
    * taken in ADC order, so widening the probe set can let an
    * overestimated newcomer displace a true neighbor from the top-k′
    * (measured: near-flat, ±0.01 dips). The recall knob that always
    * helps is kFactor.
    *
    * Scale design: the gather is the bounded part — the ADC result is
    * |q|·k′ rows, broadcast to an equi-join against the raw vector frame
    * (a semi-join-shaped hash probe of the corpus scan, never a shuffle
    * of it); query vectors broadcast; the final top-k is the bounded-heap
    * aggregate. Cost over plain [[ivfPqSearch]]: one extra corpus read
    * for the gather — the price of exact scores without storing raw
    * vectors in the index.
    */
  def ivfPqSearchRerank(enc: DataFrame, emb: DataFrame, quantizer: Quantizer,
                        queries: DataFrame, k: Int, nprobe: Int = 4,
                        kFactor: Int = 4): DataFrame =
    exactRerank(
      ivfPqSearch(enc, quantizer, queries, k * kFactor, nprobe), emb, queries, k)

  /** The exact re-rank last mile shared by the plain and filtered rerank
    * searches: the |q|·k′ ADC candidate pairs broadcast onto the raw
    * vector table (a semi-join-shaped hash probe of the corpus scan,
    * never a shuffle of it), exact rounded cosines keep the final top-k.
    */
  private def exactRerank(adcTop: DataFrame, emb: DataFrame,
                          queries: DataFrame, k: Int): DataFrame = {
    val adc = adcTop.select(col("qid"), col("id2"))
    val q = queryVecs(queries)
    Similarity.topK(vecs(emb).select(col("vec_id").as("id2"), col("v"))
      .join(broadcast(adc), Seq("id2"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("id2"),
        round(graft.functions.cosine_sim(col("qv"), col("v")), 6).as("cos")), k)
  }

  /** Cluster-balanced deterministic corpus subsample — the
    * diversity-preserving downsampling pass (SemDeDup-style motivation):
    * instead of a uniform corpus sample, which follows the corpus's own
    * density and over-represents its dominant modes, every quantizer cell
    * contributes (up to) the same `perCell` budget, flattening the
    * semantic distribution of the kept set. Emits (cid, vec_id, rn) for
    * kept vectors.
    *
    * Scale design: cell assignment is the quantizer's fused map-side
    * route (driver-side model, zero shuffle); the per-cell pick is the
    * bounded TopKByScore heap — O(perCell) rows per cell per map task,
    * NEVER a window over the k giant cell partitions.
    * The pick order is a portable md5-prefix hash of the vec_id
    * (deterministic "random", replayable in any engine), ties on vec_id.
    */
  def semanticSample(emb: DataFrame, quantizer: Quantizer,
                     perCell: Int = 20): DataFrame = {
    import graft.functions.{ScoredId, TopKByScore}
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val assigned = quantizer.route(vecs(emb))
      .select(col("cid"), col("vec_id"),
        graft.functions.md5_prefix_long(col("vec_id").cast("string"), 8).as("h"))
    val agg = udaf(new TopKByScore(perCell), ExpressionEncoder[ScoredId]())
    assigned.groupBy(col("cid"))
      // TopKByScore keeps (score desc, id asc); score = -h (h < 2^32 is
      // exact in a double) makes that (h asc, vec_id asc) — smallest
      // hashes win, the same total order the oracle replays
      .agg(agg((-col("h")).cast("double"), col("vec_id")).as("top"))
      .select(col("cid"), posexplode(col("top")))
      .select(col("cid"), col("col.id").as("vec_id"),
        (col("pos") + 1).cast("long").as("rn"))
  }

  /** Within-cell embedding near-dup pairs — the SemDeDup pass: prune the
    * O(n²) pair space to pairs sharing a quantizer cell, then exact
    * rounded cosine ≥ `threshold`. The cell join bounds pair generation
    * at Σ|cell|² instead of n² (cells are the semantic analogue of LSH
    * buckets); pairs split across cells are the recall price, tuned by
    * the quantizer's cell count — the same explicit tradeoff the LSH cap
    * documents. Both pair sides derive from ONE materialized cell scan.
    * Emits (cid, id1, id2, cos).
    */
  def semanticNearDup(emb: DataFrame, quantizer: Quantizer,
                      threshold: Double = 0.4,
                      maxCellGuard: Int = NearDupMaxCellGuard): DataFrame =
    cellPairs(guardCells(quantizer.cells(emb), maxCellGuard), threshold)

  /** Default oversized-cell bound for the UNCAPPED diagnostic faces
    * ([[semanticNearDup]] family): a cell of m members emits m(m−1)/2
    * within-cell pairs, so 10 000 members ≈ 5·10⁷ candidate pairs from
    * ONE cell — the edge of what a task set absorbs without the
    * quadratic-edge OOM the ×729 dup-flood measured (~530 M edges killed
    * a 110 GB JVM). Callers who accept the quadratic cost (diagnostic
    * sweeps on amplified corpora) raise the guard explicitly.
    */
  val NearDupMaxCellGuard = 10000

  /** Fail-fast oversized-cell guard for the uncapped all-pairs faces.
    * [[semanticNearDup]]'s output IS the pair set, so the op is
    * legitimately output-bound and CANNOT cap silently — but a
    * dup-flooded corpus fed to it gets the exact quadratic-edge OOM the
    * capped dedup faces were redesigned around, with no warning. One
    * cheap count-by-cell aggregation over the already-materialized
    * assignment raises BEFORE pair emission, naming the capped
    * production path ([[semanticDedup]] via [[cellPairsCapped]]) a
    * dedup caller should be on instead. Below the bound the face is
    * untouched (oracle output unchanged — spec-pinned).
    */
  private def guardCells(cells: DataFrame, maxCell: Int): DataFrame = {
    val over = cells.groupBy(col("cid"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxCell)
      .agg(count(lit(1)).as("cells"), max(col("n")).as("biggest")).head()
    if (over.getLong(0) > 0L)
      throw new IllegalStateException(
        s"semanticNearDup: ${over.getLong(0)} quantizer cell(s) exceed the " +
          s"$maxCell-member guard (largest: ${over.getLong(1)} members, " +
          s"≈${over.getLong(1) * (over.getLong(1) - 1) / 2} within-cell " +
          "pairs). All-pairs emission at this size is the measured " +
          "quadratic-edge OOM. For dedup decisions use semanticDedup " +
          "(capped via cellPairsCapped — connectivity-preserving, " +
          "O(maxCell·n) edges); to run this diagnostic face anyway, " +
          "raise maxCellGuard explicitly.")
    cells
  }

  /** Within-cell (id1 < id2) pairs at the rounded-cosine threshold. */
  private def cellPairs(cells: DataFrame, threshold: Double): DataFrame =
    cells.select(col("cid"), col("vec_id").as("id1"), col("v").as("v1"))
      .join(cells.select(col("cid"), col("vec_id").as("id2"), col("v").as("v2")),
        Seq("cid"))
      .where(col("id1") < col("id2"))
      .select(col("cid"), col("id1"), col("id2"),
        round(graft.functions.cosine_sim(col("v1"), col("v2")), 6).as("cos"))
      .where(col("cos") >= threshold)

  /** Capped within-cell pair generation for the CC consumers
    * ([[semanticDedup]] family) — the oversized-cell guard [[cellPairs]]
    * deliberately lacks. A quantizer bounds the AVERAGE cell, but
    * near-identical vectors all land in the SAME cell regardless of
    * (k1, k2): one boilerplate mega-cluster of m docs makes all-pairs
    * emission O(m²) (the ×243 semantic A/B measured the byte step at
    * 4.6× for 3× data under verbatim amplification). Connected
    * components does not need all m² edges — connectivity through a
    * bounded representative set suffices — so each cell contributes
    * ≤ `maxCell` hash-sampled representatives ([[screenOnCells]], the
    * portable md5-prefix order the oracle replays): representatives
    * cross-pair among themselves (≤ maxCell² per cell) and every
    * non-representative attaches to its cell's representatives
    * (m·maxCell), all still verified at the exact rounded-cosine
    * threshold. Total ≤ O(n·maxCell) edges; a cell at or under
    * `maxCell` is ALL representatives, so small-cell output is
    * bit-identical to [[cellPairs]].
    *
    * The recall price is explicit, same contract as the LSH
    * oversized-bucket cap (Dedup.minhashLsh): a sub-cluster holding
    * fraction f of an oversized cell is missed by all maxCell reps with
    * probability ≈ (1−f)^maxCell — and one in-cluster rep hub is enough
    * for CC to reunite the whole cluster. The all-pairs diagnostic face
    * ([[semanticNearDup]]) stays uncapped: its output IS the pairs, so
    * it is legitimately output-bound. Emits (id1, id2) — the CC edge
    * shape; pair-level cos is a verification predicate here, not an
    * output column.
    */
  private[graft] def cellPairsCapped(cells: DataFrame, threshold: Double,
                                     maxCell: Int): DataFrame = {
    val reps = screenOnCells(cells, maxCell)
    val repPairs = reps
      .select(col("cid"), col("cvid").as("id1"), col("cv").as("v1"))
      .join(reps.select(col("cid"), col("cvid").as("id2"), col("cv").as("v2")),
        Seq("cid"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("v1"), col("v2"))
    // members NOT picked as representatives (empty for cells ≤ maxCell)
    val nonReps = cells.join(
      reps.select(col("cid"), col("cvid").as("vec_id")),
      Seq("cid", "vec_id"), "left_anti")
    val attachPairs = nonReps.join(reps, Seq("cid"))
      .select(least(col("vec_id"), col("cvid")).as("id1"),
        greatest(col("vec_id"), col("cvid")).as("id2"),
        col("v").as("v1"), col("cv").as("v2"))
    repPairs.unionByName(attachPairs)
      .where(round(graft.functions.cosine_sim(col("v1"), col("v2")), 6)
        >= threshold)
      .select(col("id1"), col("id2"))
  }

  /** Approximate k-NN GRAPH over the whole corpus — the rung between
    * point search (`ann_*`: k neighbors of a few queries) and the pair
    * threshold (`semantic_neardup`: all pairs above a cosine): EVERY
    * vector's top-k nearest neighbors among its own quantizer cell
    * (single-probe). The graph is what graph-based curation consumes —
    * diversity sampling, cluster-connectivity audits, SemDeDup variants
    * that weight by neighborhood density. Cross-cell true neighbors are
    * the recall price, tuned by the quantizer's cell count (the IVF
    * nprobe tradeoff, graph-sided); a [[TwoLevelModel]] keeps cell SIZE,
    * and so per-vector candidate count, constant as the corpus grows.
    * Emits (vec_id, neighbor_id, cos, rn), rn 1-based by
    * (cos desc, neighbor_id asc).
    *
    * Scale design: candidates bounded at Σ|cell|·min(|cell|, KnnMaxCand)
    * by the cell equi-join against the hash-sampled candidate set
    * ([[knnGraphOnCells]] — exact within-cell kNN for every cell at or
    * under the cap, the dup-flood guard above it) off ONE materialized
    * assignment scan; the per-vector selection is the bounded
    * TopKByScore heap — map tasks reduce to ≤k rows per vector BEFORE
    * the shuffle, never a row_number window sorting a giant candidate
    * partition.
    */
  def knnGraph(emb: DataFrame, quantizer: Quantizer, k: Int = 5): DataFrame =
    knnGraphOnCells(quantizer.cells(emb), k)

  /** The per-cell CANDIDATE cap for the kNN-graph kernel — the
    * [[cellPairsCapped]] hot-cell argument applied to neighbor
    * generation: a dup-flooded mega-cell makes the within-cell
    * candidate join O(m²) CPU even though the heap bounds the OUTPUT at
    * k rows per vector. Each vector scores against ≤ KnnMaxCand
    * hash-sampled cell members instead of all of them; cells at or
    * under the cap keep exact within-cell kNN (every member is a
    * candidate — bit-identical to the uncapped kernel, which is the
    * regime every healthy cells-∝-n sizing targets). Above the cap the
    * neighbor list is top-k of a uniform 256-member sample — the
    * explicit approximate-kNN recall price, same contract as the LSH
    * bucket cap, and in the near-identical mega-cells that overflow a
    * quantizer cell the sampled neighbors are statistically
    * indistinguishable from the exact ones (all cosines ≈ 1). The
    * oracle CTEs interpolate this SAME constant (KnnGraphSql /
    * TwoLevelAssignSql), so engine and replay cannot diverge.
    */
  val KnnMaxCand: Int = 256

  /** The kNN-graph kernel over an assigned-and-materialized (cid, vec_id,
    * v) frame — shared by the flat and two-level quantizer faces: the
    * cell equi-join against the ≤ [[KnnMaxCand]] hash-sampled candidate
    * set + the bounded TopKByScore heap documented on [[knnGraph]]).
    */
  private[graft] def knnGraphOnCells(cells: DataFrame, k: Int,
                                     maxCand: Int = KnnMaxCand): DataFrame = {
    import graft.functions.{ScoredId, TopKByScore}
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val agg = udaf(new TopKByScore(k), ExpressionEncoder[ScoredId]())
    val cand = screenOnCells(cells, maxCand)
    cells.select(col("cid"), col("vec_id"), col("v"))
      .join(cand, Seq("cid"))
      .where(col("vec_id") =!= col("cvid"))
      .select(col("vec_id"),
        round(graft.functions.cosine_sim(col("v"), col("cv")), 6).as("cos"),
        col("cvid").as("nid"))
      .groupBy(col("vec_id"))
      .agg(agg(col("cos"), col("nid")).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col.id").as("neighbor_id"),
        col("col.cos").as("cos"), (col("pos") + 1).cast("long").as("rn"))
  }

  /** [[knnGraph]] with EXACT-DUPLICATE COLLAPSE — the r15 answer to the
    * measured candidate-cap quality tail: at ×27 the capped kernel's
    * per-vector mean-neighbor-cosine gap concentrates in cells 4× over
    * the cap that hold ~40 distinct duplicate FAMILIES each (verbatim
    * copies of distinct vectors), where a per-cell uniform 256-sample
    * under-covers individual families (expected ~6 sampled copies per
    * family — often < k). The flood hazard is EXACT duplicates by
    * construction, so collapse them first:
    *
    *  1. family table: one row per distinct (cid, v) with the MIN member
    *     id as representative, the multiplicity, and the k+1 smallest
    *     member ids (a bounded TopKByScore heap — never a member list);
    *  2. the kNN kernel runs on DISTINCT vectors only — a dup flood of
    *     ANY size leaves candidate volume at distinct-scale, and the
    *     256-cap now bites on distinct counts (rarely);
    *  3. exact expansion: each member's candidates are its own family's
    *     head ids at the sibling cosine (identical vectors — rounded 1)
    *     plus its representative's top-k neighbor FAMILIES, each
    *     contributing its k smallest member ids at the family cosine;
    *     merged through the same (cos desc, id asc) bounded heap. A
    *     member needs at most k siblings and no family below the k best
    *     can place a member above them, so the candidate set covers the
    *     true top-k — O(k²) candidate rows per member, all bounded.
    *
    * Equal to the UNCAPPED kernel bit-for-bit whenever distinct-level
    * cosines are tie-free at 6 decimals (spec-pinned on a constructed
    * flood AND on real data); under an exact cross-family rounded-cosine
    * tie at the k-th slot it may swap equal-cosine neighbors — the same
    * contract class as the cap, with the gap measured at 0.
    */
  def knnGraphCollapsed(emb: DataFrame, quantizer: Quantizer,
                        k: Int = 5): DataFrame =
    knnGraphCollapsedOnCells(quantizer.cells(emb), k)

  private[graft] def knnGraphCollapsedOnCells(cells: DataFrame, k: Int,
                                              maxCand: Int = KnnMaxCand): DataFrame = {
    import graft.functions.{ScoredId, TopKByScore}
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val idHeap = udaf(new TopKByScore(k + 1), ExpressionEncoder[ScoredId]())
    // ids < 2^53 are exact in a double, so score = −id gives (id asc)
    // under the heap's (score desc, id asc) order — the screenOnCells
    // convention
    val fams = graft.core.Materialize.once(
      cells.groupBy(col("cid"), col("v"))
        .agg(min(col("vec_id")).as("rep_id"), count(lit(1)).as("m"),
          idHeap((-col("vec_id")).cast("double"), col("vec_id")).as("heads")))
    val dg = knnGraphOnCells(
      fams.select(col("cid"), col("rep_id").as("vec_id"), col("v")), k, maxCand)
    val members = cells.select(col("cid"), col("vec_id"), col("v"))
      .join(fams.select(col("cid"), col("v"), col("rep_id"),
        col("heads").as("famHeads")), Seq("cid", "v"))
    // sibling candidates at the actual sibling cosine (identical arrays —
    // the same expression the uncapped kernel evaluates, so the merged
    // ordering is bit-compatible)
    val sib = members
      .select(col("vec_id"),
        round(graft.functions.cosine_sim(col("v"), col("v")), 6).as("cos"),
        explode(col("famHeads")).as("h"))
      .where(col("h.id") =!= col("vec_id"))
      .select(col("vec_id"), col("cos"), col("h.id").as("nid"))
    // cross-family candidates: rep's top-k neighbor families × their k+1
    // smallest member ids (k² bounded rows per member)
    val cross = members.select(col("vec_id"), col("rep_id"))
      .join(dg.select(col("vec_id").as("rep_id"), col("neighbor_id").as("nrep"),
          col("cos"))
        .join(fams.select(col("rep_id").as("nrep"), col("heads").as("nHeads")),
          Seq("nrep")), Seq("rep_id"))
      .select(col("vec_id"), col("cos"), explode(col("nHeads")).as("h"))
      .select(col("vec_id"), col("cos"), col("h.id").as("nid"))
    val topAgg = udaf(new TopKByScore(k), ExpressionEncoder[ScoredId]())
    sib.unionByName(cross)
      .groupBy(col("vec_id"))
      .agg(topAgg(col("cos"), col("nid")).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col.id").as("neighbor_id"),
        col("col.cos").as("cos"), (col("pos") + 1).cast("long").as("rn"))
  }

  /** Mutual-kNN clustering — [[knnGraph]] turned into a curation
    * grouping: an edge survives only if EACH endpoint ranks the other in
    * its own top-k (mutuality prunes hub vertices — the classic density
    * trick against one popular vector chaining everything together),
    * then min-label connected components over the surviving symmetric
    * core (the corpus_dedup pointer-jumping kernel — one job per round,
    * no driver accumulation). Vectors with no mutual edge are absent:
    * unclustered by definition. Emits (vec_id, cluster_id).
    *
    * Scale design: the graph frame is materialized ONCE and probed for
    * both direction checks (a skinny k·n edge list); the mutual filter
    * is a self left-semi equi-join on (a, b); CC inherits clusters'
    * bounded-round guarantees.
    */
  def knnComponents(emb: DataFrame, quantizer: Quantizer, k: Int = 5): DataFrame = {
    val g = graft.core.Materialize.once(knnGraph(emb, quantizer, k)
      .select(col("vec_id").as("a"), col("neighbor_id").as("b")))
    val mutual = g
      .join(g.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"), "left_semi")
      .where(col("a") < col("b"))
      .select(col("a").as("id1"), col("b").as("id2"))
    Dedup.clusters(mutual)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
  }

  // ─────────────────────────── the coarse quantizer ───────────────────────────

  /** The coarse quantizer every centroid face takes: the IVF searches
    * ([[searchTopK]], [[searchTopKFiltered]], [[annRecall]], the IVF-PQ
    * encode and searches), the kNN graph faces, [[semanticNearDup]], the
    * [[semanticDedup]] family, [[semanticSample]], [[embeddingOutliers]],
    * [[incrementalSemantic]], hybrid retrieval and the streaming screens
    * and servers. Every face runs the same kernels whichever quantizer
    * routes it; the quantizer owns exactly what differs between its two
    * implementations:
    *  - routing: the map-side cell id of each row, and the materialized
    *    (cid: long, vec_id, v) cell frame;
    *  - the centroid a member is scored against (the dedup keeper, the
    *    outlier score) or residualized against (IVF-PQ residuals and
    *    `recon`);
    *  - query probe ranking (each query's `nprobe` nearest cells);
    *  - the on-disk form ([[saveModel]] / [[loadModel]]).
    * An empty model (trained on an empty corpus) routes and probes
    * nothing: empty frames with the full schema, never a crash.
    *
    * [[Flat]] looks its centroids up through literal arrays (no join).
    * [[TwoLevelModel]] looks them up through broadcast model-scale
    * frames: its effective cell count is meant to reach FAISS scale
    * (1e6), where a literal array blows up the expression tree and falls
    * out of codegen. With k1 = 1 a two-level model is the flat seed
    * matrix, and every face returns its flat rows (TwoLevelIvfSpec).
    */
  sealed trait Quantizer {
    def isEmpty: Boolean

    /** Vector dimension (non-empty models). */
    private[Ivf] def dim: Int

    /** `e`, a (vec_id, v, …) frame, plus the effective cell id `cid`
      * (long) — a fused map-side argmax usable on a stream. */
    private[graft] def route(e: DataFrame): DataFrame

    /** The route of `emb`'s vectors cut once as (cid, vec_id, v). */
    protected final def routeOnce(emb: DataFrame): DataFrame =
      graft.core.Materialize.once(route(vecs(emb))
        .select(col("cid"), col("vec_id"), col("v")))

    /** ONE materialized (cid: long, vec_id, v) cell scan of `emb`'s
      * vectors: pair sides, candidate joins and keeper scores all derive
      * from it, so the corpus is embedded and assigned exactly once. */
    private[graft] def cells(emb: DataFrame): DataFrame

    /** (cid, vec_id, ccos) over a [[cells]] frame: each member's rounded
      * cosine to its own cell's centroid. */
    private[Ivf] def centroidCos(cells: DataFrame): DataFrame

    /** The MATERIALIZED IVF-PQ residual frame of `emb` (vec_id, v,
      * passthrough…, cid, res = v − centroid[cid]) and the add-back that
      * turns the codebook kernel's `rescon` into `recon`. */
    private[Ivf] def residuals(emb: DataFrame, passthrough: Seq[String])
        : (DataFrame, DataFrame => DataFrame)

    /** Each query's `nprobe` nearest cells: (qid, qv, cid), ranked by
      * rounded cosine desc, cid asc; |q| × nprobe rows. */
    private[graft] def probes(queries: DataFrame, nprobe: Int): DataFrame

    /** The parquet rows [[saveModel]] writes. */
    private[Ivf] def modelRows(spark: SparkSession): DataFrame
  }

  // an empty model's route and probe: no rows, the full schema; a filter,
  // not a limit, so a stream stays stateless
  private def unrouted(e: DataFrame): DataFrame =
    e.where(lit(false)).withColumn("cid", lit(0L))

  private def unprobed(queries: DataFrame): DataFrame =
    queryVecs(queries).where(lit(false)).withColumn("cid", lit(0))

  /** The flat quantizer: the k-row centroid matrix [[train]] returns.
    * Assignment costs k per row; lookups are literal arrays (`centLit`),
    * fine at coarse-quantizer k; the probe ranks all k cells per query
    * in one map-side expression, so a stream can run it.
    */
  final case class Flat(cents: Array[Array[Double]]) extends Quantizer {
    def isEmpty: Boolean = cents.isEmpty
    private[Ivf] def dim: Int = cents.head.length

    private[graft] def route(e: DataFrame): DataFrame =
      if (isEmpty) unrouted(e)
      else e.withColumn("cid", graft.functions.nearest_cell(
        col("v"), cents.flatten, cents.length, dim).cast("long"))

    private[graft] def cells(emb: DataFrame): DataFrame = routeOnce(emb)

    // element_at(centLit, cid + 1): the member's centroid, map-side (an
    // empty model has no cells to look up; the typed null keeps analysis)
    private def centroid: Column =
      if (isEmpty) lit(null).cast("array<double>")
      else element_at(centLit(cents), (col("cid") + 1).cast("int"))

    private[Ivf] def centroidCos(cells: DataFrame): DataFrame =
      cells.select(col("cid"), col("vec_id"),
        round(graft.functions.cosine_sim(col("v"), centroid), 6).as("ccos"))

    private[Ivf] def residuals(emb: DataFrame, passthrough: Seq[String])
        : (DataFrame, DataFrame => DataFrame) = {
      // ONE materialized assign+residual scan: the codebook seeds, every
      // Lloyd round, and the final code/recon pass all derive from it
      val res = graft.core.Materialize.once(assign(vecs(emb, passthrough), cents)
        .withColumn("res", zip_with(col("v"), centroid, (a, b) => a - b)))
      (res, _.withColumn("recon", zip_with(centroid, col("rescon"), (a, b) => a + b))
        .drop("rescon"))
    }

    /** Map-only: one array_sort of the k (rounded cosine, cid) structs
      * per query over the literal centroid matrix, its first `nprobe`
      * cids exploded. No window and no state, so a stream runs it. The
      * expression embeds k·dim literals — the driver-side-model altitude
      * of coarse k; a very large k pushes codegen to its interpreted
      * fallback (still correct, slower). */
    private[graft] def probes(queries: DataFrame, nprobe: Int): DataFrame = {
      if (isEmpty) return unprobed(queries)
      val scored = array(cents.indices.map { i =>
        struct(
          round(graft.functions.cosine_sim(col("qv"),
            array(cents(i).toIndexedSeq.map(lit(_)): _*)), 6).as("c"),
          lit(i).as("cid"))
      }: _*)
      val ranked = array_sort(scored, (l, r) =>
        when(l.getField("c") > r.getField("c"), lit(-1))
          .when(l.getField("c") < r.getField("c"), lit(1))
          .when(l.getField("cid") < r.getField("cid"), lit(-1))
          .when(l.getField("cid") > r.getField("cid"), lit(1))
          .otherwise(lit(0)))
      queryVecs(queries)
        .withColumn("cid", explode(transform(slice(ranked, 1, nprobe), _.getField("cid"))))
    }

    private[Ivf] def modelRows(spark: SparkSession): DataFrame =
      centroidsDf(spark, cents)
  }

  /** The two-level (hierarchical) quantizer: `l1` routes (k1 cells), `l2`
    * is the (k1·k2)-row sub-centroid matrix, block c covering rows
    * [c·k2, (c+1)·k2). Effective cell id = cid1·k2 + local.
    *
    * This is the "cells ∝ n at constant cell size" configuration the flat
    * quantizer deliberately does not grow into (see the ×243 ScaleProbe
    * finding in BENCH_NOTES): flat assignment costs k per row, so holding
    * cell size constant (k = n/c) makes assignment itself quadratic in n;
    * two-level routing costs k1 + k2 per row — O(√(n/c)) — while the
    * effective cell count k1·k2 still grows linearly with n. Both levels
    * stay driver-side matrices (the MLlib model altitude; FAISS holds the
    * same matrix in RAM at 1e6 cells).
    *
    * `nprobe1` is the query probe's L1 width: the `nprobe` best sub-cells
    * are ranked among the `nprobe1` nearest blocks' k2 sub-centroids each.
    * It is a serving setting, not stored by [[saveModel]]: a loaded model
    * probes 2 blocks.
    *
    * A model from [[trainTwoLevel]] keeps its training corpus and that
    * corpus's materialized L1 assignment (`fit`): a face handed the SAME
    * DataFrame sub-assigns that cut instead of re-running the L1 argmax,
    * so train-then-face pays one routing scan, not two. Once the training
    * scope releases the cut, faces re-assign; loaded models carry none.
    */
  final case class TwoLevelModel(l1: Array[Array[Double]],
                                 l2: Array[Array[Double]], k2: Int,
                                 nprobe1: Int = 2)(
      private[Ivf] val fit: Option[(DataFrame, DataFrame)] = None)
      extends Quantizer {
    def k1: Int = l1.length
    def isEmpty: Boolean = l1.isEmpty
    private[Ivf] def dim: Int = l1.head.length

    // the fused own-block L2 argmax over an L1-assigned frame
    private def subAssign(a: DataFrame): DataFrame =
      a.withColumn("scid", graft.functions.nearest_sub_cell(
        col("v"), col("cid"), l2.flatten, k1, k2, dim))

    // the training cut, if `emb` is the training corpus and the cut's
    // blocks were not released since (else the caller re-assigns)
    private def trainedOn(emb: DataFrame): Option[DataFrame] =
      fit.collect { case (corpus, a1)
        if (corpus eq emb) && graft.core.Materialize.isReadable(a1) => a1 }

    private[graft] def route(e: DataFrame): DataFrame =
      if (isEmpty) unrouted(e) else subRoute(assign(e, l1))

    // the effective cell id over an L1-assigned frame
    private def subRoute(a: DataFrame): DataFrame =
      subAssign(a).withColumn("cid", col("scid").cast("long"))

    private[graft] def cells(emb: DataFrame): DataFrame =
      trainedOn(emb).fold(routeOnce(emb))(a1 => graft.core.Materialize.once(
        subRoute(a1).select(col("cid"), col("vec_id"), col("v"))))

    // the (cid = scid: long, svec) sub-centroid frame — model-scale, so it
    // broadcasts for free where a k1·k2-element literal would not
    private def subCents(spark: SparkSession): DataFrame =
      broadcast(subCentroidsDf(spark, this)
        .select(col("scid").cast("long").as("cid"), col("svec")))

    private[Ivf] def centroidCos(cells: DataFrame): DataFrame =
      cells.join(subCents(cells.sparkSession), "cid")
        .select(col("cid"), col("vec_id"),
          round(graft.functions.cosine_sim(col("v"), col("svec")), 6).as("ccos"))

    /** Residuals are taken against the member's SUB-centroid (its actual
      * region prototype, so residual variance shrinks with cell size as
      * in the flat index) and the emitted `cid` IS the global scid, so
      * every encoded-frame consumer joins candidates as the flat index
      * does. On the training corpus the residuals come off the [[cells]]
      * cut by a map-only broadcast join (no second cut); otherwise one
      * materialized route+residual scan keeps every passthrough column.
      */
    private[Ivf] def residuals(emb: DataFrame, passthrough: Seq[String])
        : (DataFrame, DataFrame => DataFrame) =
      if (passthrough.isEmpty && trainedOn(emb).isDefined) {
        val sc = subCents(emb.sparkSession)
        (cells(emb).join(sc, "cid")
          .select(col("vec_id"), col("v"), col("cid"),
            zip_with(col("v"), col("svec"), (a, b) => a - b).as("res")),
          _.join(sc, "cid")
            .withColumn("recon", zip_with(col("svec"), col("rescon"), (a, b) => a + b))
            .drop("rescon", "svec"))
      } else {
        val sc = broadcast(subCentroidsDf(emb.sparkSession, this))
        (graft.core.Materialize.once(subAssign(assign(vecs(emb, passthrough), l1))
          .join(sc, "scid")
          .drop("cid") // the L1 block id; the emitted cid is the global scid
          .withColumn("cid", col("scid").cast("int"))
          .withColumn("res", zip_with(col("v"), col("svec"), (a, b) => a - b))
          .drop("scid", "svec")),
          _.join(sc, col("cid") === col("scid"))
            .withColumn("recon", zip_with(col("svec"), col("rescon"), (a, b) => a + b))
            .drop("rescon", "svec", "scid"))
      }

    private[graft] def probes(queries: DataFrame, nprobe: Int): DataFrame =
      if (isEmpty) unprobed(queries)
      else probeFrameTwoLevel(queries, this, nprobe)

    /** One parquet of (level, cid, cvec) rows: level 1 = the k1 router
      * centroids, level 2 = the k1·k2 sub-centroids keyed by global scid. */
    private[Ivf] def modelRows(spark: SparkSession): DataFrame = {
      import spark.implicits._
      (l1.zipWithIndex.map { case (c, i) => (1, i, c.toSeq) } ++
        l2.zipWithIndex.map { case (c, i) => (2, i, c.toSeq) })
        .toSeq.toDF("level", "cid", "cvec")
    }
  }

  /** The (k1, k2) sizing policy for a corpus of `n` vectors at a target
    * cell size `targetCell` — the documented function a 100 TB user calls
    * instead of hand-picking 4×4: effective cells ≈ n / targetCell, split
    * evenly across the two levels, so k1 = k2 = ⌈√(n / targetCell)⌉.
    * That keeps per-row routing at k1 + k2 = O(√(n/c)) flops while the
    * effective cell count k1·k2 ≥ n/c grows linearly with the corpus at
    * (at most) constant expected cell size — the exact configuration the
    * ×243 ScaleProbe finding motivated (flat assignment at n/c cells is
    * quadratic in n). Guarantees k1·k2·targetCell ≥ n (cells never
    * UNDER-provisioned by rounding) and k1 = k2 ≥ 1; tiny corpora
    * degenerate to (1, 1) — one cell, which IS the flat k=1 case.
    *
    * Registry faces deliberately keep the fixed TL_K = 4 constant
    * (oracle determinism: the DuckDB replay interpolates the same
    * literal); ScaleProbe legs and library users size with this.
    */
  def twoLevelSizing(n: Long, targetCell: Int = 256): (Int, Int) = {
    require(targetCell > 0, s"targetCell must be positive, got $targetCell")
    require(n >= 0, s"corpus size must be non-negative, got $n")
    val cells = math.max(1.0, n.toDouble / targetCell)
    val k = math.max(1L, math.ceil(math.sqrt(cells)).toLong)
    // downstream layouts index the k1·k2 effective-cell space with Int
    // products (trainTwoLevel's l2 array, scid = cid1·k2 + cid2), so the
    // sizing boundary must reject any pair whose PRODUCT overflows — not
    // just each factor (k = 46 341 passes k ≤ Int.MaxValue yet k² wraps
    // negative downstream). k ≤ Int.MaxValue ⇒ k·k fits a Long exactly.
    require(k * k <= Int.MaxValue,
      s"sizing overflow: k1=k2=$k gives k1*k2=${k * k} > Int.MaxValue " +
        s"effective cells; raise targetCell (n=$n, targetCell=$targetCell)")
    (k.toInt, k.toInt)
  }

  /** Train the two-level quantizer: L1 via [[train]] (k1 cells), then per
    * L1 cell k2 sub-centroids seeded from the cell's k2 LOWEST vec_ids
    * (the [[train]] seeding convention, applied per block via a bounded
    * TopKByScore heap — never a per-cell window over an unbounded cell).
    * `iters` Lloyd rounds then refine ALL k1·k2 sub-centroids in ONE
    * distributed pass each: sub-assignment is the fused
    * [[graft.functions.NearestSubCell]] argmax (map-only, k2 candidates
    * per row), means are the same exact DECIMAL(30,15) partial sums as
    * [[train]], so every round is bit-identical under any shuffle order.
    * L2 trains on ONE materialized L1 assignment, which the model keeps
    * for faces run on the same `emb` (see [[TwoLevelModel]]).
    *
    * Deviations from [[train]], both deliberate: sub-cells that lose every
    * member KEEP their previous centroid (no compaction — cid1 = scid/k2
    * routing must stay stable), and under-full blocks pad with their LAST
    * real seed (at init a duplicate ties with its source and loses to the
    * lower scid, so padded slots start empty; under iters ≥ 1 they are
    * ordinary centroids that may attract members once their source moves —
    * legitimate k-means with duplicate inits, still deterministic);
    * empty blocks pad with the L1 centroid (they receive no vectors).
    * With k1 = 1 and iters = 0 the model degenerates to [[train]]'s seed
    * matrix exactly (spec-pinned), so the flat faces are the k1 = 1 case.
    */
  def trainTwoLevel(emb: DataFrame, k1: Int = 16, k2: Int = 16,
                    iters: Int = 0): TwoLevelModel = {
    import graft.functions.{ScoredId, TopKByScore}
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val cents1 = train(emb, k1, iters)
    if (cents1.isEmpty) return TwoLevelModel(cents1, Array.empty, k2)()
    val a1 = graft.core.Materialize.once(assign(vecs(emb), cents1))
    val k1c = cents1.length
    val dim = cents1.head.length
    // seed ids: the k2 lowest vec_ids per L1 cell — bounded heap keyed on
    // -vec_id (exact in a double up to 2^53, far past any corpus id), then
    // one skinny (≤ k1·k2 row) join back for the seed vectors
    val heap = udaf(new TopKByScore(k2), ExpressionEncoder[ScoredId]())
    // the seed-id frame is ≤ k1·k2 rows — BROADCAST it onto the corpus
    // scan for the seed-vector gather (without the hint Spark's unknown
    // size estimate after the udaf picks a corpus-scale vec_id exchange:
    // measured 200 MB shuffled at the ×243 leg, for a model-scale join)
    val seeds = broadcast(a1.groupBy(col("cid"))
      .agg(heap((-col("vec_id")).cast("double"),
        col("vec_id").cast("long")).as("top"))
      .select(col("cid"), explode(col("top.id")).as("vec_id")))
      .join(a1.select(col("vec_id").cast("long").as("vec_id"), col("v")),
        Seq("vec_id"))
      .select(col("cid"), col("vec_id"), col("v"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val byCell = seeds.groupBy(_._1)
    var l2m = new Array[Double](k1c * k2 * dim)
    var c = 0
    while (c < k1c) {
      val cell = byCell.getOrElse(c, Array.empty).sortBy(_._2).map(_._3)
      var s = 0
      while (s < k2) {
        val src =
          if (cell.isEmpty) cents1(c)
          else cell(java.lang.Math.min(s, cell.length - 1))
        System.arraycopy(src, 0, l2m, (c * k2 + s) * dim, dim)
        s += 1
      }
      c += 1
    }
    val d = DecimalType(30, 15)
    (1 to iters).foreach { _ =>
      val means = a1.withColumn("scid", graft.functions.nearest_sub_cell(
          col("v"), col("cid"), l2m, k1c, k2, dim))
        .select(col("scid"), posexplode(col("v")))
        .toDF("scid", "pos", "x")
        .groupBy(col("scid"), col("pos"))
        .agg((sum(col("x").cast(d)).cast("double") / count(lit(1))).as("x"))
        .collect()
      val next = l2m.clone()
      means.foreach(r => next(r.getInt(0) * dim + r.getInt(1)) = r.getDouble(2))
      l2m = next
    }
    TwoLevelModel(cents1,
      Array.tabulate(k1c * k2)(i =>
        java.util.Arrays.copyOfRange(l2m, i * dim, (i + 1) * dim)), k2)(
      Some((emb, a1)))
  }

  /** The (scid, svec) sub-centroid table of a two-level model as a local
    * DataFrame — the broadcast-join form of every sub-centroid lookup
    * (NEVER a k1·k2-element literal array: the structure exists for
    * FAISS-scale effective cell counts, where centLit's expression tree
    * blows up / falls out of codegen; the frame stays model-scale).
    */
  private def subCentroidsDf(spark: SparkSession, m: TwoLevelModel): DataFrame =
    centroidsDf(spark, m.l2)
      .select(col("cid").as("scid"), col("cvec").as("svec"))

  /** Two-level query-side probe ranking: `nprobe1` nearest L1 blocks per
    * query (k1 candidates), then the best `nprobe` SUB-cells across those
    * blocks (nprobe1·k2 candidates, ranked per query by rounded cosine
    * desc, scid asc — the flat probe contract). Per-query probe cost is
    * k1 + nprobe1·k2 flops instead of the flat path's full effective cell
    * count — what keeps query routing affordable when cells ∝ n. Ranks
    * run over ALL k1·k2 sub-centroids of the probed blocks, padded slots
    * included (trainTwoLevel's pad-with-last-seed duplicates tie and lose
    * to their source on the scid tiebreak in ASSIGNMENT, but legitimately
    * occupy probe ranks — the oracle replays the same padded table).
    * Emits (qid, qv, cid = scid); |q| × probes rows, dim-scale.
    */
  private def probeFrameTwoLevel(queries: DataFrame, tl: TwoLevelModel,
                                 nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val wq1 = Window.partitionBy(col("qid")).orderBy(col("c1").desc, col("cid1"))
    val l1 = queryVecs(queries)
      .crossJoin(broadcast(centroidsDf(spark, tl.l1)
        .select(col("cid").as("cid1"), col("cvec"))))
      .select(col("qid"), col("qv"), col("cid1"),
        round(graft.functions.cosine_sim(col("qv"), col("cvec")), 6).as("c1"))
      .withColumn("rn1", row_number().over(wq1))
      .where(col("rn1") <= tl.nprobe1)
      .select(col("qid"), col("qv"), col("cid1"))
    val sc = broadcast(subCentroidsDf(spark, tl)
      .withColumn("cid1", floor(col("scid") / tl.k2).cast("int")))
    val wq2 = Window.partitionBy(col("qid")).orderBy(col("c2").desc, col("scid"))
    l1.join(sc, "cid1")
      .select(col("qid"), col("qv"), col("scid"),
        round(graft.functions.cosine_sim(col("qv"), col("svec")), 6).as("c2"))
      .withColumn("rn2", row_number().over(wq2))
      .where(col("rn2") <= nprobe)
      .select(col("qid"), col("qv"), col("scid").as("cid"))
  }

  /** Persist a quantizer — the cross-job half of train-once/search-many:
    * train in the indexing job, [[loadModel]] in every serving job (within
    * one session just keep the model). A [[Flat]] model writes its k
    * (cid, cvec) rows; a [[TwoLevelModel]] writes (level, cid, cvec) rows.
    */
  def saveModel(spark: SparkSession, quantizer: Quantizer, path: String): Unit =
    quantizer.modelRows(spark).write.mode("overwrite").parquet(path)

  /** Load a model written by [[saveModel]]; the file's columns say which
    * quantizer it is (a `level` column marks a two-level model). Centroids
    * come back sorted by cid — the layout [[train]] / [[trainTwoLevel]]
    * return; a two-level model's k2 is the level-2/level-1 row ratio.
    */
  def loadModel(spark: SparkSession, path: String): Quantizer = {
    val df = spark.read.parquet(path)
    if (!df.columns.contains("level"))
      return Flat(localize(df.select(col("cid").cast("int").as("cid"),
        col("cvec").cast("array<double>").as("cvec"))))
    val rows = df.select(col("level").cast("int"), col("cid").cast("int"),
      col("cvec").cast("array<double>"))
    val l1 = localize(rows.where(col("level") === 1).select(col("cid"), col("cvec")))
    val l2 = localize(rows.where(col("level") === 2).select(col("cid"), col("cvec")))
    // a truncated/hand-edited model whose level-2 count is not an exact
    // multiple of k1 would otherwise load silently into a model whose
    // block arithmetic (scid = cid·k2 + local) routes garbage; dims must
    // agree for the same reason
    require(l1.isEmpty || l2.length % l1.length == 0,
      s"two-level model at $path is corrupt: ${l2.length} sub-centroids " +
        s"is not a multiple of k1=${l1.length}")
    // 0 % k1 == 0, so the multiple check alone admits a model whose
    // level-2 rows are entirely MISSING — k2=0 would route every row to
    // scid 0 (NearestSubCell's candidate loop never runs) and the probe's
    // /k2 divides by zero: exactly the silent-garbage class these guards
    // exist to close
    require(l1.isEmpty || l2.nonEmpty,
      s"two-level model at $path is corrupt: no level-2 rows " +
        s"(k1=${l1.length}, k2 would be 0)")
    require(l1.isEmpty || (l1 ++ l2).forall(_.length == l1.head.length),
      s"two-level model at $path is corrupt: mixed centroid dims")
    TwoLevelModel(l1, l2, if (l1.isEmpty) 0 else l2.length / l1.length)()
  }

  /** CENTROID-DISTANCE OUTLIER screen per quantizer cell — the embedding-
    * space face of mad_outliers: score every vector by its rounded cosine
    * to its OWN cell's centroid, standardize within the cell, and flag
    * vectors ≥ `z` sample standard deviations BELOW the cell mean. The
    * tail is one-sided by design: outliers are the vectors that fit their
    * own region worst (garbage, mislabeled, cross-domain strays) —
    * SemDeDup drops the most prototypical members of a cluster, this
    * drops the anti-prototypes; together they bracket the curation axis.
    * Emits EVERY vector with (cid, ccos, zscore, is_outlier) — the
    * feature-engineering shape; downstream filters choose the action.
    *
    * Scale shape: the ONE materialized assignment scan feeds both the
    * score (the quantizer's centroid lookup, as the dedup keeper's) and
    * the per-cell moments (rounded-6 scores in exact DECIMAL(9,6)/(18,12)
    * sums — the volumeAnomaly recipe); moments are cell-dim-scale and
    * broadcast back; z assembled in fixed-order doubles, single-member
    * cells null via guarded divisors.
    */
  def embeddingOutliers(emb: DataFrame, quantizer: Quantizer,
                        z: Double = 2.0): DataFrame = {
    val d6 = DecimalType(9, 6)
    val scored = quantizer.centroidCos(quantizer.cells(emb))
    val stats = scored.groupBy(col("cid")).agg(
      count(lit(1)).as("n"),
      sum(col("ccos").cast(d6)).cast("double").as("s1"),
      sum((col("ccos").cast(d6) * col("ccos").cast(d6))
        .cast(DecimalType(18, 12))).cast("double").as("s2"))
    scored.join(broadcast(stats), Seq("cid"))
      .withColumn("mu", col("s1") / col("n"))
      .withColumn("variance",
        (col("s2") - col("n") * col("mu") * col("mu")) /
          when(col("n") > 1, col("n") - 1))
      .withColumn("zscore",
        round((col("ccos") - col("mu")) /
          when(col("variance") > 0, sqrt(col("variance"))), 6))
      .select(col("cid"), col("vec_id"), col("ccos"), col("zscore"),
        (col("zscore").isNotNull && col("zscore") <= -z).as("is_outlier"))
  }

  /** SemDeDup end-to-end — [[semanticNearDup]]'s pairs turned into the
    * actual curation decision, in the corpus_dedup mold: within-cell
    * near-dup pairs → min-label connected components (Dedup.clusters'
    * pointer-jumping loop, one job per round) → one keeper per cluster.
    * The keeper is the member FARTHEST from its cell centroid (lowest
    * rounded centroid cosine, ties on the lower vec_id) — SemDeDup's
    * diversity-preserving choice: the most typical members of a semantic
    * cluster are the redundant ones. Emits (vec_id, cluster_id, keep)
    * for every clustered vector, exactly like corpusDedup's
    * (doc_id, cluster_id, keep).
    *
    * Scale design: the ONE materialized assignment scan feeds both pair
    * sides AND the keeper score (no re-assignment pass); pair generation
    * rides [[cellPairsCapped]] — ≤ O(n·maxCell) edges even when a
    * boilerplate mega-cluster lands a single oversized cell (the
    * quantizer bounds the average cell, never the dup-skew cell); the
    * keeper window partitions by cluster_id, an O(m log m) sort per
    * cluster, not the O(m²) pair emission the cap retired.
    */
  def semanticDedup(emb: DataFrame, quantizer: Quantizer,
                    threshold: Double = 0.4, maxCell: Int = 64): DataFrame =
    dedupOnCells(emb, quantizer,
      cells => Dedup.clusters(cellPairsCapped(cells, threshold, maxCell)))

  /** [[semanticDedup]] on the default quantizer: 16 flat cells seeded
    * from the 16 lowest vec_ids (`train(emb, 16, iters = 0)`) — the
    * curation pipeline's call.
    */
  def semanticDedup(emb: DataFrame): DataFrame =
    semanticDedup(emb, Flat(train(emb, 16, iters = 0)))

  /** The dedup faces' shared shape: ONE materialized cell scan feeds the
    * component labels (`clusterCells`) and the keeper's centroid cosine.
    */
  private def dedupOnCells(emb: DataFrame, quantizer: Quantizer,
                           clusterCells: DataFrame => DataFrame): DataFrame = {
    val cells = quantizer.cells(emb)
    keeperOf(clusterCells(cells), quantizer.centroidCos(cells)
      .select(col("vec_id").as("doc_id"), col("ccos")))
  }

  /** The ONE keeper tail all dedup faces share (comp + per-doc
    * centroid-cosine scores → keep = first by (ccos asc, doc_id asc) per
    * cluster): factored so keeper semantics can never silently diverge
    * between the plain / stable / collapsed faces or the quantizers.
    */
  private def keeperOf(comp: DataFrame, scoredDocs: DataFrame): DataFrame = {
    val scored = comp.join(scoredDocs, "doc_id")
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("ccos"), col("doc_id"))
    scored.withColumn("keep", (row_number().over(w) === 1).cast("boolean"))
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("keep"))
  }

  /** EXACT-DUPLICATE COLLAPSE for the semantic-dedup CC feed — the
    * [[knnGraphCollapsedOnCells]] idea applied to the dedup family,
    * closing the loss the ×729 sizing leg measured: at coarse cells the
    * capped feed attaches members only to ≤ maxCell sampled
    * representatives, so a duplicate family with NO sampled rep can
    * drop out entirely (4×4 at ×729: 58 % of the corpus never
    * clustered). Collapsed feed:
    *
    *  - representative pairs: [[cellPairsCapped]] over the DISTINCT
    *    (cid, v) frame — the cap now bites on distinct counts, and any
    *    member-level edge (x∈A, y∈B) has the same cosine as (repA,
    *    repB), so rep-level connectivity IS member-level connectivity
    *    for exact duplicates;
    *  - attach edges: every non-representative member links to its
    *    family's representative (min id) — family connectivity is exact
    *    by construction, never sampled. Guarded by the family's own
    *    rounded self-cosine ≥ threshold, the same predicate the
    *    all-pairs feed applies to the member↔member edge: for
    *    threshold > 1 identical vectors correctly stay unpaired, and
    *    zero-norm families (self-cos NaN) ATTACH — Spark and DuckDB
    *    both order NaN above every number, so the established
    *    cross-engine all-pairs semantics pairs NaN-cosine rows, and
    *    the collapsed feed reproduces it (spec-pinned).
    *
    * Result: a dup-flooded corpus pays pair generation at
    * DISTINCT-scale and loses no family, with output equal to the
    * UNCAPPED all-pairs dedup whenever distinct cells fit the cap
    * (spec-pinned on a constructed flood; identity on all-distinct
    * data).
    */
  private def cellPairsCollapsed(cells: DataFrame, threshold: Double,
                                 maxCell: Int): DataFrame = {
    val fams = graft.core.Materialize.once(
      cells.groupBy(col("cid"), col("v"))
        .agg(min(col("vec_id")).as("rep_id"), count(lit(1)).as("m")))
    val repPairs = cellPairsCapped(
      fams.select(col("cid"), col("rep_id").as("vec_id"), col("v")),
      threshold, maxCell)
    val attach = cells
      .join(fams.select(col("cid"), col("v"), col("rep_id")), Seq("cid", "v"))
      .where(col("vec_id") =!= col("rep_id") &&
        round(graft.functions.cosine_sim(col("v"), col("v")), 6) >= threshold)
      // rep_id = min(member ids), so the (id1 < id2) edge shape holds
      .select(col("rep_id").as("id1"), col("vec_id").as("id2"))
    repPairs.unionByName(attach)
  }

  /** [[semanticDedup]] through the collapsed feed ([[cellPairsCollapsed]])
    * — the face a dup-flooded corpus should run: pair volume at
    * distinct-scale, family membership exact (the ×729 4×4 two-level
    * control's 58 % recall loss measured to zero under this feed).
    */
  def semanticDedupCollapsed(emb: DataFrame, quantizer: Quantizer,
                             threshold: Double = 0.4,
                             maxCell: Int = 64): DataFrame =
    dedupOnCells(emb, quantizer,
      cells => Dedup.clusters(cellPairsCollapsed(cells, threshold, maxCell)))

  /** [[semanticDedup]] with STABLE cluster ids across incremental runs
    * (Dedup.clustersStable's award semantics — growth never renames,
    * merges keep the smaller id, splits follow the representative): pass
    * the previous run's (vec_id, cluster_id) frame; the keeper choice
    * recomputes over today's members, only the LABEL is pinned.
    */
  def semanticDedupStable(emb: DataFrame, prior: DataFrame,
                          quantizer: Quantizer, threshold: Double = 0.4,
                          maxCell: Int = 64): DataFrame =
    dedupOnCells(emb, quantizer, cells =>
      Dedup.clustersStable(
        cellPairsCapped(cells, threshold, maxCell),
        prior.select(col("vec_id").as("doc_id"), col("cluster_id"))))

  /** Incremental semantic screening — the embedding-side sibling of
    * Dedup.incrementalDedup (the nightly-crawl pass): score each vector
    * of a NEW batch against the EXISTING corpus, emitting per new vector
    * the screened-comparison count, the best corpus match (highest
    * rounded cosine, ties on the lower corpus vec_id) and a `novel`
    * verdict (best cosine below `threshold`, or no comparison at all).
    *
    * Scale design: the quantizer is trained on the CORPUS; each corpus
    * cell contributes at most `maxCell` members to the screen set, drawn
    * by portable md5-prefix hash order via the bounded TopKByScore heap
    * (never a window over a giant cell partition — a cell is n/cells of
    * the corpus by construction). The screen set is therefore ≤
    * cells·maxCell rows and BROADCASTS to the batch side: screening is
    * map-only on the new batch, |batch|·maxCell comparisons, no shuffle
    * of the corpus. The hash sample is the explicit recall price (same
    * contract as the LSH bucket cap): a corpus near-dup cluster of m
    * members in a cell of M is missed by the whole sample with
    * probability ≈ (1 − maxCell/M)^m, and `novel` is a screening
    * verdict, not an exact-nearest claim — semanticNearDup/searchTopK
    * are the exact in-corpus tools. Both the sample and the member fetch
    * derive from ONE materialized cell scan of the corpus
    * ([[screenOnCells]]); the new batch takes the quantizer's map-side
    * route. Train once per corpus snapshot and screen every nightly
    * batch against the same model.
    */
  def incrementalSemantic(newEmb: DataFrame, corpus: DataFrame,
                          quantizer: Quantizer, threshold: Double = 0.4,
                          maxCell: Int = 64): DataFrame = {
    // an empty model screens nothing: every vector is novel with
    // n_screened 0 (the incrementalDedup empty-corpus contract)
    val screen = screenOnCells(quantizer.cells(corpus), maxCell)
    val scored = quantizer.route(vecs(newEmb))
      .select(col("cid"), col("vec_id"), col("v"))
      .join(broadcast(screen), Seq("cid"))
      .select(col("vec_id"), col("cvid"),
        round(graft.functions.cosine_sim(col("v"), col("cv")), 6).as("cos"))
    val rolled = scored.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_screened"), max(col("cos")).as("best_cos"),
        // struct ordering compares the long field EXACTLY — an id above
        // 2^53 would lose its low bits in a double cast and could break
        // the lower-cvid tiebreak (and parity with the oracle's BIGINT min)
        min_by(col("cvid"), struct(negate(col("cos")), col("cvid")))
          .as("best_match"))
    newEmb.select(col("vec_id"))
      .join(rolled, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_screened"), lit(0L)).as("n_screened"),
        col("best_match"), col("best_cos"),
        (col("best_cos").isNull || col("best_cos") < threshold).as("novel"))
  }

  /** The per-cell ≤ maxCell hash-sampled representative set over an
    * ALREADY-ASSIGNED (cid, vec_id, v) frame: each cell's ≤ maxCell
    * members drawn by portable md5-prefix order via the bounded
    * TopKByScore heap (score = -h: h < 2^32 is exact in a double, so
    * (h asc, vec_id asc) — the order semanticSample and the oracle's
    * row_number window replay), ids joined back to the cell frame for
    * their vectors. Dim-scale by construction: the broadcastable screen
    * set of [[incrementalSemantic]] and the streaming screen, and the
    * representative set of the semantic-dedup cap ([[cellPairsCapped]]).
    * Emits (cid, cvid, cv).
    */
  private[graft] def screenOnCells(cells: DataFrame, maxCell: Int): DataFrame = {
    import graft.functions.{ScoredId, TopKByScore}
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val agg = udaf(new TopKByScore(maxCell), ExpressionEncoder[ScoredId]())
    cells
      .select(col("cid"), col("vec_id"),
        graft.functions.md5_prefix_long(col("vec_id").cast("string"), 8).as("h"))
      .groupBy(col("cid"))
      .agg(agg((-col("h")).cast("double"), col("vec_id")).as("top"))
      .select(col("cid"), explode(col("top")).as("s"))
      .select(col("cid"), col("s.id").as("vec_id"))
      .join(cells, Seq("cid", "vec_id"))
      .select(col("cid"), col("vec_id").as("cvid"), col("v").as("cv"))
  }

  /** Approximate top-k: scan only each query's `nprobe` nearest cells.
    * Each vector lives in exactly one cell and probes are distinct cells,
    * so candidates are never duplicated. Train the quantizer once per
    * corpus snapshot (or [[loadModel]] it) and search many times.
    */
  def searchTopK(emb: DataFrame, quantizer: Quantizer, queries: DataFrame,
                 k: Int, nprobe: Int = 4): DataFrame =
    Similarity.topK(candidates(emb, quantizer, queries, nprobe), k)

  /** [[searchTopK]] before its top-k close: (qid, id2, cos) for every
    * corpus vector in each query's probed cells. The corpus side is the
    * quantizer's map-side route, so with a flat model (map-only probe)
    * `queries` may be a stream (StreamingAnnServe).
    */
  private[graft] def candidates(emb: DataFrame, quantizer: Quantizer,
                                queries: DataFrame, nprobe: Int): DataFrame =
    probed(quantizer.route(vecs(emb)), quantizer.probes(queries, nprobe))

  /** INDEX-QUALITY monitor — recall@k of the IVF probe scan against the
    * exact brute-force top-k, per query: the production gauge a nightly
    * vector pipeline reads next to [[centroidDrift]] before reusing an
    * index ("the model says cells moved — did RESULTS degrade?"). Emits
    * (qid, n_brute, n_hits, recall) with recall = n_hits / n_brute
    * (denominator from the exact set, so a corpus smaller than k+1
    * still reads 1.0 when the probe finds everything).
    *
    * Scale design: ONE materialized cell scan of the corpus feeds BOTH
    * the brute scoring branch and the probed-cell branch — the corpus
    * is read once, not twice; queries broadcast in both branches; each
    * branch collapses through the bounded top-k heap
    * aggregate before the overlap join, which therefore joins two
    * |q|·k-row frames (broadcast). Ground truth is inherently a full
    * scan per query batch — run it on a SAMPLED query set at 100 TB
    * (the sampling is the caller's k/queries choice, not hidden here).
    */
  def annRecall(emb: DataFrame, quantizer: Quantizer, queries: DataFrame,
                k: Int, nprobe: Int = 4): DataFrame = {
    val base = quantizer.cells(emb)
    val q = queryVecs(queries)
    val brute = Similarity.topK(base.join(broadcast(q),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id2"),
        round(graft.functions.cosine_sim(col("qv"), col("v")), 6).as("cos")), k)
    val ivf = Similarity.topK(probed(base, quantizer.probes(queries, nprobe)), k)
    brute.select(col("qid"), col("id2"))
      .join(broadcast(ivf.select(col("qid"), col("id2"), lit(1).as("hit"))),
        Seq("qid", "id2"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_brute"), count(col("hit")).as("n_hits"))
      .select(col("qid"), col("n_brute"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_brute"), 6).as("recall"))
  }

  /** FILTERED approximate top-k — metadata-predicate ANN, the day-one
    * vector-serving requirement plain [[searchTopK]] can't express:
    * "nearest neighbors WHERE label = X". Post-filtering the unfiltered
    * top-k silently returns < k rows (or zero, under a selective
    * predicate); this path instead applies the predicate INSIDE the
    * candidate scan and guarantees k results whenever ≥ k survivors
    * exist (excluding self-matches).
    *
    * Two-phase plan:
    *  1. PROBE — `pred` filters the corpus BEFORE cell assignment, so it
    *     reaches the parquet scan (predicate pushdown — the survivors
    *     frame never materializes non-matching vectors); probed-cell
    *     candidates are scored as usual. The scored candidate set is cut
    *     once ([[graft.core.Materialize.once]]) because it feeds both the
    *     per-query counts and the final top-k.
    *  2. RESCUE — queries whose probed cells held < k survivors re-score
    *     against ALL survivors (exact over the filtered corpus, the
    *     bruteForceTopK broadcast shape). Under a selective predicate the
    *     survivor set is small by construction — the rescue is a
    *     brute-force pass over exactly the rows the filter kept, for
    *     exactly the queries the probe underfilled; rescued queries get
    *     EXACT results (their probe candidates are discarded, not mixed).
    *
    * At 100 TB: phase 1 is the plain IVF scan cost over the filtered
    * corpus; phase 2 is |underfilled queries| × |survivors| — nonzero
    * only when the filter starves the probed cells, i.e. precisely when
    * the survivor set is small enough to brute-force.
    *
    * `pred` is any Column over the corpus frame's own columns (label,
    * vec_id, joined-in metadata) — WHERE-composable: pre-join metadata
    * onto `emb` and reference it in `pred`.
    */
  def searchTopKFiltered(emb: DataFrame, quantizer: Quantizer,
                         queries: DataFrame, k: Int, pred: Column,
                         nprobe: Int = 4): DataFrame =
    // pred pushed to the corpus scan; the quantizer was trained on the
    // FULL corpus (the index is built once, unfiltered; predicates arrive
    // per query at serving time)
    filteredTopK(quantizer.route(vecs(emb.where(pred))), quantizer, queries, k, nprobe)

  /** Shared probe+rescue kernel over a routed survivor frame (vec_id,
    * `scoreCol` = v or recon, cid) — the raw-vector and IVF-PQ filtered
    * searches share it. Guarantees k rows per query whenever ≥ k
    * survivors exist.
    */
  private def filteredTopK(cells: DataFrame, quantizer: Quantizer,
                           queries: DataFrame, k: Int, nprobe: Int,
                           scoreCol: String = "v"): DataFrame = {
    val q = queryVecs(queries)
    val cand = graft.core.Materialize.once(
      probed(cells, quantizer.probes(queries, nprobe), scoreCol))
    // per-query candidate counts are ≤ |q| rows — broadcast them (left
    // outer, build right) instead of letting the unknown-size aggregate
    // estimate fall into a sort-merge join of two query-dim frames
    val under = q.join(
        broadcast(cand.groupBy(col("qid")).agg(count(lit(1)).as("n"))),
        Seq("qid"), "left")
      .where(coalesce(col("n"), lit(0L)) < k)
      .select(col("qid"), col("qv"))
    val rescue = cells.join(broadcast(under), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id2"),
        round(graft.functions.cosine_sim(col("qv"), col(scoreCol)), 6).as("cos"))
    Similarity.topK(
      cand.join(broadcast(under.select(col("qid"))), Seq("qid"), "left_anti")
        .unionByName(rescue), k)
  }

  /** FILTERED IVF-PQ top-k against an encoded corpus frame — the
    * compressed-index sibling of [[searchTopKFiltered]]. `pred` is a
    * Column over `enc`'s columns (vec_id, cid, recon, plus the
    * `passthrough` metadata [[ivfPqReconFrame]] carried through the
    * map-only encode — never a corpus-scale metadata join). The
    * quantizer's probe supplies the candidate cells, and underfilled
    * queries take the exact-ADC rescue over ALL survivors: the same
    * probe+rescue kernel ([[filteredTopK]]) and k-guarantee as
    * the raw-vector filtered search, in ADC terms.
    */
  def ivfPqSearchFiltered(enc: DataFrame, quantizer: Quantizer,
                          queries: DataFrame, k: Int, pred: Column,
                          nprobe: Int = 4): DataFrame =
    filteredTopK(enc.where(pred), quantizer, queries, k, nprobe, scoreCol = "recon")

  /** FILTERED IVF-PQ search with the exact re-rank last mile: the
    * filtered ADC scan surfaces top-k′ (k′ = kFactor·k) survivors, then
    * only those |q|·k′ rows gather raw vectors for the exact-cosine
    * re-rank ([[ivfPqSearchRerank]]'s bounded-gather shape — the gather
    * ids already passed the filter, so no second predicate evaluation).
    */
  def ivfPqSearchRerankFiltered(enc: DataFrame, emb: DataFrame,
                                quantizer: Quantizer, queries: DataFrame,
                                k: Int, pred: Column, nprobe: Int = 4,
                                kFactor: Int = 4): DataFrame =
    exactRerank(
      ivfPqSearchFiltered(enc, quantizer, queries, k * kFactor, pred, nprobe),
      emb, queries, k)
}
