package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset => CDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint that KEEPS a declared hash partitioning.
  *
  * `Dataset.checkpoint`/`localCheckpoint` wrap the materialized rows in a
  * [[LogicalRDD]] whose `outputPartitioning` is taken from the physical
  * plan — and under adaptive execution that reads as
  * `UnknownPartitioning(0)` (the AQE plan's partitioning is not exposed),
  * so EVERY consumer of a checkpointed frame re-exchanges it even when
  * the rows are already exactly hash-distributed. The iterative kernels
  * (connected components, label propagation, PageRank) were designed
  * around "checkpoint preserves outputPartitioning"; on Spark 4.1 that
  * assumption is false, which silently re-shuffles the edge list — the
  * largest frame in the loop — once per round.
  *
  * This shim re-wraps the checkpoint's LogicalRDD with the partitioning
  * the caller GUARANTEES the rows physically have. The guarantee is the
  * caller's contract: the frame's last row-moving operator must be
  * `repartition(n, cols)` (REPARTITION_BY_NUM — adaptive execution never
  * coalesces or splits a user-specified partition count) followed only by
  * partitioning-preserving operators (project/filter/aggregate-on-a-
  * superset-of-keys). Declaring a layout the rows do not have would
  * silently co-locate joins wrongly, and nothing checks the declaration:
  * the object is PUBLIC, so any caller can make it. Its one caller is
  * `graft.core.Materialize.cutPartitioned`, for the audited kernel call
  * sites; making an unverified declaration impossible (or removing the
  * shim) is ROADMAP item 7.
  *
  * Lives in org.apache.spark.sql because LogicalRDD construction and
  * Dataset.ofRows are private[sql]; everything referenced is Apache Spark
  * public source.
  */
object GraftCheckpointShim {
  /** Re-wrap `cp` (a frame returned by Dataset.checkpoint/localCheckpoint,
    * i.e. analyzed plan = LogicalRDD) declaring
    * HashPartitioning(keys, numPartitions), and optionally an
    * ascending-NullsFirst within-partition sort order on `sortedBy`
    * (declare it only when the frame's last operators were
    * repartition(n, keys) + sortWithinPartitions(sortedBy)). Size
    * statistics of the origin plan are preserved so downstream join
    * planning (broadcast decisions) keeps working across the re-wrap.
    * Returns `cp` unchanged if the plan is not a LogicalRDD
    * (reliable-checkpoint future-proofing).
    */
  def declareHashPartitioning(cp: DataFrame, keys: Seq[String],
                              numPartitions: Int,
                              sortedBy: Seq[String] = Nil): DataFrame = {
    val cds = cp.asInstanceOf[CDataset[Row]]
    cds.queryExecution.analyzed match {
      // declare ONLY when the checkpointed rdd physically has exactly the
      // declared partition count. AQE's empty-relation propagation can
      // replace the repartition subtree with an empty 0-partition rdd; a
      // declared HashPartitioning(keys, 1) would then satisfy
      // SinglePartition, elide the normalizing exchange, and a global
      // aggregate over 0 partitions returns ZERO rows (a one-row
      // count/sum contract violation — caught at r16 on empty pair
      // inputs). The partition count is plan metadata, free to read.
      case lr: LogicalRDD if lr.rdd.getNumPartitions == numPartitions =>
        def attr(k: String) = lr.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"declareHashPartitioning: no column '$k' in ${lr.output.map(_.name)}"))
        val part = HashPartitioning(keys.map(attr), numPartitions)
        val ord = sortedBy.map(k =>
          org.apache.spark.sql.catalyst.expressions.SortOrder(
            attr(k), org.apache.spark.sql.catalyst.expressions.Ascending))
        CDataset.ofRows(cds.sparkSession,
          LogicalRDD(lr.output, lr.rdd, part, ord, isStreaming = false,
            lr.stream)(cds.sparkSession, Some(lr.stats), None))
      case _ => cp
    }
  }
}
