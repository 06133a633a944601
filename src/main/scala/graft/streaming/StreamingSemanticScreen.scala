package graft.streaming

import graft.ops.Ivf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Live semantic corpus screening: streaming embeddings checked against a
  * STATIC reference corpus — the always-on serving sibling of
  * `Ivf.incrementalSemantic` (which gives the batch per-vector rollup),
  * and the semantic analogue of `StreamingIncrementalDedup`. With this,
  * both dedup families run in all four modes: batch pairs, batch
  * incremental screening, within-stream stateful detection, and
  * stream-vs-static stateless screening.
  *
  * Scale design: completely STATELESS streaming (no watermark, no state
  * store, plain append mode) — the stream side takes the pre-trained
  * quantizer's fused map-side route, as the batch op's new batch does,
  * joined to the corpus's BROADCAST hash-sampled screen set (each corpus
  * cell's ≤ maxCell members, `Ivf.screenOnCells` — fixed per corpus
  * snapshot, a dimension input). Per-arrival work is ≤ maxCell rounded
  * cosines; the (1 − maxCell/M)^m sample-miss bound is the same
  * documented screening contract as the batch op. An empty model screens
  * nothing, so every arrival is novel.
  *
  * Emits (vec_id, ts, corpus_id, cos) for screen hits at or above
  * `threshold`; a vector with no emission is novel by absence.
  */
object StreamingSemanticScreen {

  def run(emb: DataFrame, corpus: DataFrame, quantizer: Ivf.Quantizer,
          threshold: Double = 0.4, maxCell: Int = 64): DataFrame = {
    val screen = Ivf.screenOnCells(quantizer.cells(corpus), maxCell)
    quantizer.route(emb.select(col("vec_id"), col("ts"),
        col("embedding").cast("array<double>").as("v")))
      .join(broadcast(screen), Seq("cid"))
      .select(col("vec_id"), col("ts"), col("cvid").as("corpus_id"),
        round(graft.functions.cosine_sim(col("v"), col("cv")), 6).as("cos"))
      .where(col("cos") >= threshold)
  }
}
