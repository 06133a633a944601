package graft

import graft.core.GraftSession

/** Plan audit: print `explain("formatted")` for selected queries so scan
  * pruning (ReadSchema/PushedFilters), broadcast choices, and
  * WholeStageCodegen spans can be inspected. Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("ohlcv_1m", "q1_pricing", "q5_region", "vwap", "dedup_minhash", "ann_topk")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      // record the physical plans of segments hidden behind Materialize
      // cuts (they print as `Scan ExistingRDD` in the final plan) — the
      // iterative kernels' per-round shapes live there
      val (df, segs) = graft.core.Materialize.recordingSegmentPlans(
        SparkEntry.queries(n)(spark, sfDir))
      df.explain("formatted")
      segs.zipWithIndex.foreach { case (p, i) =>
        println(s"---------- $n segment $i (pre-AQE sparkPlan) ----------")
        println(p.treeString)
      }
      graft.core.Materialize.releaseAll(spark, blocking = true)
    }
    spark.stop()
  }
}
