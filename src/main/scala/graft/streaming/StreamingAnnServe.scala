package graft.streaming

import graft.ops.Ivf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.StreamingQuery

/** ANN model SERVING: query vectors arriving on a stream, scored against
  * a static corpus under a PRE-TRAINED index model — the streaming
  * sibling of `Ivf.searchTopK`/`Ivf.pqSearchWith` that completes the
  * batch → incremental → streaming triad the dedup family already has
  * (train/encode once per corpus snapshot in the indexing job, serve
  * every arriving query against the persisted model via `Ivf.loadModel`).
  *
  * Scale design: every server replays its batch kernel in each
  * micro-batch (`foreachBatch`), so stream results equal the batch
  * search row-for-row (spec-pinned) on either quantizer. A query's
  * candidates all materialize inside its arrival micro-batch (the
  * corpus side is static), so the exact per-query top-k needs no
  * cross-batch state: no state store, no watermark, plain append; the
  * static side is fixed per corpus snapshot (persist it across
  * micro-batches). [[candidates]] is the stream-static form for
  * composing downstream: a flat model's probe is one map-only
  * expression over its literal centroids, so the stream itself joins
  * the static corpus.
  */
object StreamingAnnServe {

  /** Stateless stream-static candidate scoring: (qid, id2, cos) for every
    * corpus vector in the query's probed cells. Append-mode safe (no
    * aggregation, no watermark, no state store); each match emits exactly
    * once, in the query's arrival micro-batch. Compose downstream (e.g.
    * a threshold filter for radius search) or use [[serve]] for exact
    * per-query top-k. Flat models only: the two-level probe ranks with
    * windows, which a stream cannot run.
    */
  def candidates(queries: DataFrame, emb: DataFrame, model: Ivf.Flat,
                 nprobe: Int = 4): DataFrame =
    Ivf.candidates(emb, model, queries, nprobe)

  /** Serve exact IVF top-k per arriving query. `sink` receives each
    * batch's (qid, id2, cos, rn) top-k frame; at stream end the union of
    * emissions equals the batch `Ivf.searchTopK` over the same queries.
    *
    * ASSUMES each qid arrives in exactly ONE micro-batch (like the
    * no-watermark note below, this is the serving contract, not a checked
    * invariant): a qid re-delivered across batches gets an independent
    * top-k per batch and nothing here reconciles them. `sink` receives
    * `batchId` precisely so a delivery-ambiguous source can key or
    * deduplicate emissions per batch downstream.
    */
  def serve(queries: DataFrame, emb: DataFrame, quantizer: Ivf.Quantizer,
            k: Int, nprobe: Int = 4)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    replay(queries)(Ivf.searchTopK(emb, quantizer, _, k, nprobe))(sink)

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
    replay(queries)(Ivf.pqSearchWith(recon, _, k))(sink)

  /** Serve IVF-PQ top-k per arriving query against a pre-encoded
    * (vec_id, cid, recon) frame from `Ivf.ivfPqReconFrame` plus the
    * quantizer it was encoded under: probed cells only, ADC scoring on
    * the residual reconstruction. Stream results equal the batch
    * `Ivf.ivfPqSearch` row-for-row (spec-pinned, both quantizers); same
    * zero-state/no-watermark shape and distinct-qid-per-stream assumption
    * as [[serve]].
    */
  def serveIvfPq(queries: DataFrame, enc: DataFrame,
                 quantizer: Ivf.Quantizer, k: Int, nprobe: Int = 4)
                (sink: (DataFrame, Long) => Unit): StreamingQuery =
    replay(queries)(Ivf.ivfPqSearch(enc, quantizer, _, k, nprobe))(sink)

  /** Serve FILTERED top-k per arriving query — the metadata-predicate
    * serving path matching batch `Ivf.searchTopKFiltered`: the
    * predicate applies INSIDE the candidate scan (pushed to the static
    * corpus read) and underfilled queries take the exact rescue pass, so
    * every arriving query gets k results whenever ≥ k survivors exist.
    * Each micro-batch replays the batch kernel, so stream results equal
    * the batch answer by construction — same zero-state shape and
    * distinct-qid-per-stream assumption as [[serve]]. The kernel's
    * internal Materialize.once cut runs on the stream-execution thread
    * (default scope): long-lived serving jobs should release via
    * `Materialize.releaseAll` at corpus-snapshot boundaries.
    */
  def serveFiltered(queries: DataFrame, emb: DataFrame,
                    quantizer: Ivf.Quantizer, k: Int, pred: Column,
                    nprobe: Int = 4)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    replay(queries)(Ivf.searchTopKFiltered(emb, quantizer, _, k, pred, nprobe))(sink)

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
    replay(queries)(Ivf.ivfPqSearchRerank(enc, emb, quantizer, _, k, nprobe, kFactor))(sink)

  /** The one serving loop: each micro-batch of arriving queries runs the
    * batch `kernel` and hands its result to `sink` with the batch id.
    */
  private def replay(queries: DataFrame)(kernel: DataFrame => DataFrame)
                    (sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, batchId: Long) => sink(kernel(batch), batchId))
      .start()
}
