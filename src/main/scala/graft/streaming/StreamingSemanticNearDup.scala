package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming SemDeDup: each arriving embedding is scored against every
  * previously-seen vector sharing its quantizer cell, emitting
  * (cid, id1, id2, cos) near-dup pairs live — the streaming member of the
  * semantic family (batch = Ivf.semanticNearDup, incremental =
  * Ivf.incrementalSemantic), completing the same batch/incremental/
  * streaming triad the MinHash dedup family has.
  *
  * Scale design: cell assignment is the same fused map-side NearestCell
  * argmax as batch, over a PRE-TRAINED driver-side quantizer (the
  * StreamingAnnServe serving contract — a stream cannot Lloyd-train);
  * state is keyed by cell id and holds at most `maxCell` vectors — once
  * full, newcomers still score against every retained member but are not
  * themselves retained (bounded state; duplicates of post-cap arrivals
  * are the documented recall price, same contract as the batch screen
  * cap). `idleRetention` (event-time timeout) drops cells idle past the
  * horizon, bounding total state at numCells·maxCell·dim doubles for
  * unbounded streams. Cosines are computed with the exact accumulation
  * order and HALF_UP 6-decimal rounding of the batch
  * `round(cosine_sim(...), 6)` column, so emitted pairs are value-
  * identical to batch `Ivf.semanticNearDup` under the same quantizer
  * (spec-pinned across micro-batch splits, for both quantizers).
  */
object StreamingSemanticNearDup {

  case class Arrived(cid: Long, vec_id: Long, ts: java.sql.Timestamp,
                     v: Seq[Double])
  case class CellState(vecs: List[(Long, Seq[Double])])
  case class Pair(cid: Long, id1: Long, id2: Long, cos: Double)

  /** Fused dot + norms loop in the SAME accumulation order as the
    * CosineSimilarity codegen, then Spark's Round(_, 6) HALF_UP — bit-for-
    * bit the batch `round(cosine_sim(v1, v2), 6)` value.
    */
  private def roundedCos(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val c = dot / (math.sqrt(na) * math.sqrt(nb))
    if (java.lang.Double.isNaN(c)) c
    else java.math.BigDecimal.valueOf(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** `emb`: streaming (vec_id, ts, embedding); `quantizer`: the
    * pre-trained coarse quantizer (Ivf.train wrapped in `Ivf.Flat`,
    * Ivf.trainTwoLevel, or Ivf.loadModel). The state key is the
    * quantizer's effective cell id (a two-level model's global sub-cell),
    * assigned by the same fused map-side argmax as the batch face. A
    * two-level model routes at k1 + k2 flops per row while state stays
    * ≤ (live cells)·maxCell — the cells ∝ n configuration, streamed.
    * Each arrival scores against the ≤ maxCell retained members of its
    * cell, is retained until the cap, and idle cells time out.
    */
  def run(emb: DataFrame, quantizer: graft.ops.Ivf.Quantizer,
          threshold: Double = 0.4, maxCell: Int = 1000,
          watermark: String = "10 minutes",
          idleRetentionMs: Long = 3600000L): Dataset[Pair] = {
    require(!quantizer.isEmpty, "streaming semantic near-dup needs a " +
      "non-empty pre-trained quantizer (Ivf.train or Ivf.trainTwoLevel on a " +
      "corpus snapshot)")
    val assigned = quantizer.route(emb.withWatermark("ts", watermark)
        .select(col("vec_id"), col("ts"),
          col("embedding").cast("array<double>").as("v")))
      .select(col("cid"), col("vec_id"), col("ts"), col("v"))
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned.as[Arrived].groupByKey(_.cid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (cid: Long, evts: Iterator[Arrived], state: GroupState[CellState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var cell = state.getOption.getOrElse(CellState(Nil))
            val out = List.newBuilder[Pair]
            var maxTs = 0L
            // deterministic processing order within the micro-batch
            evts.toSeq.sortBy(e => (e.ts.getTime, e.vec_id)).foreach { e =>
              maxTs = math.max(maxTs, e.ts.getTime)
              cell.vecs.foreach { case (oid, ov) =>
                if (oid != e.vec_id) {
                  val c = roundedCos(ov, e.v)
                  if (c >= threshold)
                    out += Pair(cid, math.min(oid, e.vec_id),
                      math.max(oid, e.vec_id), c)
                }
              }
              if (cell.vecs.size < maxCell && !cell.vecs.exists(_._1 == e.vec_id))
                cell = CellState((e.vec_id, e.v) :: cell.vecs)
            }
            state.update(cell)
            // clamp to just past the current watermark (a timeout at or
            // before it throws; see StreamingNearDup)
            if (maxTs > 0)
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs() + 1, maxTs + idleRetentionMs))
            out.result().iterator
          }
        })
  }
}
