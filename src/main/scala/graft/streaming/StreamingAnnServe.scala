package graft.streaming

import graft.ops.{Ivf, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** ANN model SERVING: query vectors arriving on a stream, scored against
  * a static corpus under a PRE-TRAINED index model — the streaming
  * sibling of `Ivf.searchTopKWith`/`Ivf.pqSearchWith` that completes the
  * batch → incremental → streaming triad the dedup family already has
  * (train/encode once per corpus snapshot in the indexing job, serve
  * every arriving query against the persisted model via `Ivf.loadModel`).
  *
  * Scale design: the centroid model is a driver-side k-row matrix
  * (exactly like the batch path), so per-query probe ranking is a fused
  * MAP-ONLY literal-array expression — top-`nprobe` cells by (rounded
  * cosine desc, cid asc), the identical contract to the batch path's
  * window ranking, with no window (streaming frames can't sort) and no
  * state. Candidate generation is then a stream-STATIC equi-join on the
  * cell id — stateless streaming, no watermark, plain append; the static
  * side is fixed per corpus snapshot (persist it across micro-batches).
  * A query's candidates all materialize inside its arrival micro-batch
  * (the corpus side is static), so the exact per-query top-k needs no
  * cross-batch state either: [[serve]] closes each batch with the same
  * bounded-heap TopKByScore aggregate the batch path uses — stream
  * results equal `Ivf.searchTopKWith` row-for-row (spec-pinned).
  */
object StreamingAnnServe {

  /** Top-`nprobe` cell ids for a query vector, by (rounded cosine desc,
    * cid asc) — the batch probe-ranking contract (Ivf.searchTopKWith) as
    * one map-side expression over the literal centroid matrix.
    *
    * The expression embeds k·dim literals (the model), which is exactly
    * the driver-side-model altitude the batch path uses — fine for the
    * k ≤ a-few-hundred coarse quantizers IVF wants; a very large k would
    * push codegen to its interpreted fallback (still correct, slower).
    */
  private def probeCids(qv: Column, cents: Array[Array[Double]], nprobe: Int): Column = {
    val scored = array(cents.indices.map { i =>
      struct(
        round(graft.functions.cosine_sim(qv,
          array(cents(i).toIndexedSeq.map(lit(_)): _*)), 6).as("c"),
        lit(i).as("cid"))
    }: _*)
    val sorted = array_sort(scored, (l, r) =>
      when(l.getField("c") > r.getField("c"), lit(-1))
        .when(l.getField("c") < r.getField("c"), lit(1))
        .when(l.getField("cid") < r.getField("cid"), lit(-1))
        .when(l.getField("cid") > r.getField("cid"), lit(1))
        .otherwise(lit(0)))
    transform(slice(sorted, 1, nprobe), s => s.getField("cid"))
  }

  /** Stateless stream-static candidate scoring: (qid, id2, cos) for every
    * corpus vector in the query's probed cells. Append-mode safe (no
    * aggregation, no watermark, no state store); each match emits exactly
    * once, in the query's arrival micro-batch. Compose downstream (e.g.
    * a threshold filter for radius search) or close with [[serve]] for
    * exact per-query top-k.
    */
  def candidates(queries: DataFrame, emb: DataFrame,
                 cents: Array[Array[Double]], nprobe: Int = 4): DataFrame = {
    val dim = cents.head.length
    // static side: one fused map-side argmax per corpus vector, fixed per
    // corpus snapshot — persist/cache the input across micro-batches
    val cells = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cid", graft.functions.nearest_cell(
        col("v"), cents.flatten, cents.length, dim))
    queries
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))
      .withColumn("cid", explode(probeCids(col("qv"), cents, nprobe)))
      .join(cells, Seq("cid"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id2"),
        round(graft.functions.cosine_sim(col("qv"), col("v")), 6).as("cos"))
  }

  /** Serve exact IVF top-k per arriving query: candidates stream-static
    * joined, each micro-batch closed with the bounded TopKByScore
    * aggregate (at most k rows per query per map task — the batch
    * ranking kernel). `sink` receives each batch's (qid, id2, cos, rn)
    * top-k frame; at stream end the union of emissions equals the batch
    * `Ivf.searchTopKWith` over the same queries.
    *
    * ASSUMES each qid arrives in exactly ONE micro-batch (like the
    * no-watermark note below, this is the serving contract, not a checked
    * invariant): a qid re-delivered across batches gets an independent
    * top-k per batch and nothing here reconciles them. `sink` receives
    * `batchId` precisely so a delivery-ambiguous source can key or
    * deduplicate emissions per batch downstream.
    */
  def serve(queries: DataFrame, emb: DataFrame, cents: Array[Array[Double]],
            k: Int, nprobe: Int = 4)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    candidates(queries, emb, cents, nprobe).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(Similarity.topK(batch, k), batchId)
      }
      .start()

  /** Serve PQ (compressed-corpus) top-k per arriving query against a
    * pre-encoded (vec_id, recon) frame from `Ivf.pqReconFrame` — the
    * ADC-style serving path: the original float vectors never load at
    * serve time. Each micro-batch replays the batch `pqSearchWith`
    * kernel, so stream results equal the batch answer by construction —
    * under [[serve]]'s same distinct-qid-per-stream assumption (a
    * re-delivered qid re-ranks independently; key by `batchId` to
    * deduplicate downstream).
    */
  def servePq(queries: DataFrame, recon: DataFrame, k: Int)
             (sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(Ivf.pqSearchWith(recon, batch, k), batchId)
      }
      .start()

  /** Serve IVF-PQ top-k per arriving query against a pre-encoded
    * (vec_id, cid, recon) frame from `Ivf.ivfPqReconFrame` plus the
    * quantizer it was encoded under. Stream results equal the batch
    * `Ivf.ivfPqSearch` row-for-row (spec-pinned, both quantizers); same
    * zero-state/no-watermark shape and distinct-qid-per-stream
    * assumption as [[serve]].
    *  - [[Ivf.Flat]]: the full memory-bound serving path — map-only probe
    *    ranking (the [[probeCids]] literal-matrix contract), stateless
    *    stream-static join on the PROBED cell ids only, ADC scoring on
    *    the residual reconstruction, bounded top-k close per micro-batch.
    *  - [[Ivf.TwoLevelModel]]: its hierarchical probe (nprobe1 L1 blocks
    *    → best nprobe sub-cells) ranks with windows over broadcast
    *    model frames, which a stream cannot run, so each micro-batch
    *    replays the batch kernel.
    */
  def serveIvfPq(queries: DataFrame, enc: DataFrame,
                 quantizer: Ivf.Quantizer, k: Int, nprobe: Int = 4)
                (sink: (DataFrame, Long) => Unit): StreamingQuery =
    (quantizer match {
      case Ivf.Flat(cents) =>
        queries
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qv"))
          .withColumn("cid", explode(probeCids(col("qv"), cents, nprobe)))
          .join(enc, Seq("cid"))
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("id2"),
            round(graft.functions.cosine_sim(col("qv"), col("recon")), 6).as("cos"))
          .writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            sink(Similarity.topK(batch, k), batchId)
          }
      case tl: Ivf.TwoLevelModel =>
        queries.writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            sink(Ivf.ivfPqSearch(enc, tl, batch, k, nprobe), batchId)
          }
    }).start()

  /** Serve FILTERED top-k per arriving query — the metadata-predicate
    * serving path matching batch `Ivf.searchTopKFilteredWith`: the
    * predicate applies INSIDE the candidate scan (pushed to the static
    * corpus read) and underfilled queries take the exact rescue pass, so
    * every arriving query gets k results whenever ≥ k survivors exist.
    * Each micro-batch replays the batch kernel via foreachBatch (the
    * rescue's per-batch candidate counting cannot be expressed as a
    * stateless stream-static join), so stream results equal the batch
    * answer by construction — same zero-state shape and
    * distinct-qid-per-stream assumption as [[serve]]. The kernel's
    * internal Materialize.once cut runs on the stream-execution thread
    * (default scope): long-lived serving jobs should release via
    * `Materialize.releaseAll` at corpus-snapshot boundaries.
    */
  def serveFiltered(queries: DataFrame, emb: DataFrame,
                    cents: Array[Array[Double]], k: Int, pred: Column,
                    nprobe: Int = 4)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(Ivf.searchTopKFilteredWith(emb, batch, k, pred, cents, nprobe), batchId)
      }
      .start()

  /** Serve IVF-PQ top-k WITH the exact re-rank stage — the quality
    * serving path matching batch `Ivf.ivfPqSearchRerank`: per micro-batch,
    * the ADC scan surfaces top-k′ (kFactor·k) candidates from the
    * compressed frame, only those |batch|·k′ rows gather raw vectors
    * from `emb` (the bounded gather — the raw corpus is touched per
    * candidate, never scanned into streaming state), exact rounded
    * cosine keeps top-k. Zero state, no watermark; same
    * distinct-qid-per-stream assumption as [[serve]]; stream results
    * equal the batch `ivfPqSearchRerank` row-for-row (spec-pinned).
    */
  def serveIvfPqRerank(queries: DataFrame, enc: DataFrame, emb: DataFrame,
                       quantizer: Ivf.Quantizer, k: Int, nprobe: Int = 4,
                       kFactor: Int = 4)
                      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(Ivf.ivfPqSearchRerank(enc, emb, quantizer, batch, k, nprobe, kFactor),
          batchId)
      }
      .start()
}
