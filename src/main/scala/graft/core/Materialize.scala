package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** A release handle for the checkpoint blocks materialized by ONE query:
  * every [[Materialize.once]]/[[Materialize.cut]] executed inside
  * [[Materialize.inScope]] tags its block with the active scope, and
  * `release` drops exactly that scope's blocks — concurrent queries in
  * the same session never touch each other's in-flight materializations.
  */
final class MatScope private[core] (private[core] val id: Long) {
  /** Unpersist this scope's tracked blocks (only — see class doc). */
  def release(spark: SparkSession, blocking: Boolean = false): Unit =
    Materialize.releaseScope(spark, this, blocking)
}

/** Lineage cuts for multi-branch / iterative reuse — the single source of
  * truth for the engine's materialization policy (see BENCH_NOTES round-3
  * ledger for the measured comparison vs DataFrame persist and eager
  * checkpointing).
  *
  * Reliable checkpoint when the session has a checkpoint dir (cluster
  * fault tolerance — local checkpoint blocks die with their executor,
  * which at 100 TB with dynamic allocation means a failed job); an
  * executor-local checkpoint otherwise (bench/local mode). Local
  * checkpoints store raw UnsafeRows — unlike DataFrame persist, which
  * pays InMemoryRelation's columnar-compression CPU.
  *
  * Every cut is recorded in a registry keyed by (applicationId, scope) so
  * callers can RELEASE the storage when the query that created it
  * finishes: local-checkpoint blocks are MEMORY_AND_DISK-persisted RDDs,
  * and a long-lived session (a notebook, a query service, the 126-query
  * bench loop) that never unpersists them accumulates every pipeline's
  * materialized frames until memory pressure evicts working sets to disk
  * under unrelated queries.
  *
  * Concurrency contract: wrap each query in [[inScope]] and release its
  * [[MatScope]] at that query's boundary — scoped release never drops
  * another in-flight query's blocks. [[releaseAll]] (everything tracked)
  * is ONLY safe when queries are strictly serialized, as in the bench /
  * verify loops. Blocks are keyed by applicationId, so ids tracked under
  * a stopped SparkContext can never unpersist an unrelated RDD that
  * happens to reuse the id in a NEW context (stale entries are pruned on
  * the next release against the live context).
  *
  * CONTRACT: a localCheckpoint truncates lineage, so after release the
  * data of previously-returned materialized frames is gone for good —
  * any further action on one of them fails. Release only at a boundary
  * where the query's outputs have been fully consumed (collected /
  * written / counted). Reliable checkpoints (cluster mode) keep their
  * files; for those, release is a no-op and file cleanup belongs to
  * `spark.cleaner.referenceTracking.cleanCheckpoints`.
  */
object Materialize {

  /** One tracked checkpoint block: the owning context's applicationId,
    * the scope that cut it (0 = default/unscoped), and the RDD id. Ids
    * only — holding the RDD objects themselves would be its own
    * driver-side leak.
    */
  private final case class Tracked(appId: String, scopeId: Long, rddId: Int)

  private val tracked = scala.collection.mutable.LinkedHashSet[Tracked]()
  private val nextScopeId = new java.util.concurrent.atomic.AtomicLong(1L)
  // thread-local active scope: queries build their plans (and run their
  // iterative driver loops) on the calling thread, so a dynamic variable
  // scopes every once()/cut() a query executes without threading a token
  // through the operator APIs
  private val activeScope = new scala.util.DynamicVariable[Long](0L)

  // optional per-thread plan recorder: the full-surface plan lint
  // (tools/PlanLint) audits the physical plans INSIDE materialization
  // cuts, which the final frame's plan hides behind `Scan ExistingRDD`
  private val planRecorder = new scala.util.DynamicVariable[
    Option[scala.collection.mutable.Buffer[org.apache.spark.sql.execution.SparkPlan]]](None)

  /** Run `body`, capturing the pre-AQE physical plan of every frame cut
    * by [[once]]/[[cut]] on this thread while it runs (planning only —
    * no extra execution). Returns (body's result, recorded plans in cut
    * order). Iterative kernels record one plan per round; rounds share a
    * shape, so lint findings de-duplicate naturally.
    */
  def recordingSegmentPlans[T](body: => T): (T, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    val buf = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.execution.SparkPlan]
    val r = planRecorder.withValue(Some(buf))(body)
    (r, buf.toSeq)
  }

  private def record(df: DataFrame): Unit =
    planRecorder.value.foreach(_ += df.queryExecution.sparkPlan)

  /** Run `body` with a fresh scope active: every once()/cut() it executes
    * (directly or via any graft operator) tags its blocks with the scope,
    * and `body` receives the [[MatScope]] handle to release them when the
    * query's outputs are consumed.
    *
    * Scope tagging is THREAD-LOCAL (queries build plans and run driver
    * loops on the calling thread): a cut made on another thread — e.g.
    * inside a foreachBatch callback, which runs on the stream-execution
    * thread — lands in the default scope and is only dropped by
    * [[releaseAll]].
    */
  def inScope[T](body: MatScope => T): T = {
    val scope = new MatScope(nextScopeId.getAndIncrement())
    activeScope.withValue(scope.id)(body(scope))
  }

  private def track(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val t = Tracked(df.sparkSession.sparkContext.applicationId,
          activeScope.value, lr.rdd.id)
        tracked.synchronized { tracked += t }
      case _ => () // reliable checkpoint → no persisted block
    }
    df
  }

  /** LAZY cut: materialization folds into the NEXT action on the returned
    * frame — no dedicated checkpoint job. Use for a frame consumed by
    * several branches of ONE query (per-branch pushed-down filters
    * de-canonicalize subtrees, so ReuseExchange never fires on its own).
    */
  def once(df: DataFrame): DataFrame = {
    record(df)
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(false)
    else track(df.localCheckpoint(false))
  }

  /** EAGER cut: materializes now. Use between iterative rounds where the
    * frame seeds the next round's plan and must not grow lineage.
    */
  def cut(df: DataFrame): DataFrame = {
    record(df)
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else track(df.localCheckpoint())
  }

  /** Cut that KEEPS a declared hash layout. Plain cuts lose
    * outputPartitioning (the checkpoint's LogicalRDD reads
    * UnknownPartitioning under AQE — measured on Spark 4.1, r16), so
    * every consumer re-exchanges the materialized frame even when its
    * rows are already exactly hash-distributed. The iterative kernels
    * re-declare the layout they just paid for.
    *
    * CALLER CONTRACT (see GraftCheckpointShim): `df`'s last row-moving
    * operator must be `repartition(numPartitions, keys)` — a
    * user-specified partition count AQE neither coalesces nor splits —
    * followed only by partitioning-preserving operators (project /
    * filter / aggregate whose grouping contains the keys). Declaring a
    * layout the rows don't physically have mis-co-locates joins.
    */
  def cutPartitioned(df: DataFrame, keys: Seq[String], numPartitions: Int,
                     eager: Boolean = true,
                     sortedBy: Seq[String] = Nil): DataFrame = {
    record(df)
    val cp =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager)
      else track(df.localCheckpoint(eager))
    val declared = org.apache.spark.sql.GraftCheckpointShim
      .declareHashPartitioning(cp, keys, numPartitions, sortedBy)
    // the re-wrap reuses cp's rdd, so the tracked block id is unchanged
    declared
  }

  /** LAZY [[cutPartitioned]]: materialization folds into the next action
    * on the returned frame (same contract).
    */
  def oncePartitioned(df: DataFrame, keys: Seq[String],
                      numPartitions: Int): DataFrame =
    cutPartitioned(df, keys, numPartitions, eager = false)

  /** Release ONE cut frame's blocks early — for staging frames a kernel
    * fully consumed mid-query (e.g. the pre-seal edge materialization the
    * iterative kernels re-partition into their round layout): holding
    * both copies to the query boundary doubles the kernel's edge-scale
    * storage footprint (measured as the r16layout probe's heap headroom).
    *
    * CHECKED: `replacement`, the frame that took `df`'s place, must be an
    * EAGER tracked cut ([[cut]] / [[cutPartitioned]]), already
    * materialized. A lazy replacement still reads `df` on its first
    * action, after `df`'s truncated lineage is gone; that fails before
    * anything is unpersisted. No-op for a `df` that is not a tracked cut.
    */
  def releaseFrame(spark: SparkSession, df: DataFrame, replacement: DataFrame,
                   blocking: Boolean = false): Unit = {
    require(isEagerTrackedCut(replacement),
      "releaseFrame: the replacement frame is not an eager tracked cut " +
        "(Materialize.cut / cutPartitioned), so it may still read the frame " +
        "being released; nothing was unpersisted")
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => releaseWhere(spark, _.rddId == lr.rdd.id, blocking)
      case _ => ()
    }
  }

  // a cut whose rdd is already checkpointed (eager cuts are; lazy ones
  // only after their first action) and, for local checkpoints, tracked
  // here (reliable checkpoints keep their files and are never tracked)
  private def isEagerTrackedCut(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val sc = df.sparkSession.sparkContext
        lr.rdd.isCheckpointed && (sc.getCheckpointDir.isDefined ||
          tracked.synchronized {
            tracked.exists(t => t.appId == sc.applicationId && t.rddId == lr.rdd.id)
          })
      case _ => false
    }

  /** Whether a frame can still be read: false only for a local cut whose
    * blocks were released (its truncated lineage cannot recompute).
    * Reliable checkpoints keep their files, and plain frames recompute.
    */
  private[graft] def isReadable(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val sc = df.sparkSession.sparkContext
        sc.getCheckpointDir.isDefined || sc.getPersistentRDDs.contains(lr.rdd.id)
      case _ => true
    }

  /** Number of tracked checkpoint blocks still persisted in the context.
    * The bench loop CHECKS this returns to zero after each query's scoped
    * release and falls back to [[releaseAll]] with a log line when it
    * doesn't (an off-thread cut landing in the default scope — see
    * [[inScope]]'s thread-locality note).
    */
  def liveBlockCount(spark: SparkSession): Int = {
    val appId = spark.sparkContext.applicationId
    val persisted = spark.sparkContext.getPersistentRDDs
    tracked.synchronized {
      tracked.count(t => t.appId == appId && persisted.contains(t.rddId))
    }
  }

  /** Live tracked blocks belonging to one scope. */
  def liveBlockCount(spark: SparkSession, scope: MatScope): Int = {
    val appId = spark.sparkContext.applicationId
    val persisted = spark.sparkContext.getPersistentRDDs
    tracked.synchronized {
      tracked.count(t => t.appId == appId && t.scopeId == scope.id &&
        persisted.contains(t.rddId))
    }
  }

  /** Unpersist ONE scope's blocks (plus prune entries of stopped
    * contexts). Safe with other queries in flight — their scopes' blocks
    * stay live.
    */
  private[core] def releaseScope(spark: SparkSession, scope: MatScope,
                                 blocking: Boolean): Unit =
    releaseWhere(spark, _.scopeId == scope.id, blocking)

  /** Unpersist EVERY tracked block of the live context and clear the
    * registry. Only safe when queries are strictly serialized (bench /
    * verify loops): with two queries in flight this destroys the other
    * query's in-flight blocks, whose truncated lineage cannot recompute.
    */
  def releaseAll(spark: SparkSession, blocking: Boolean = false): Unit =
    releaseWhere(spark, _ => true, blocking)

  private def releaseWhere(spark: SparkSession, pred: Tracked => Boolean,
                           blocking: Boolean): Unit = {
    val appId = spark.sparkContext.applicationId
    val ids = tracked.synchronized {
      // a JVM runs at most one active SparkContext, so entries under any
      // other appId belong to a stopped context: drop them (their blocks
      // died with the context; unpersisting by id here could hit an
      // unrelated RDD of the live context that reuses the id)
      val live = tracked.filter(_.appId == appId)
      val (mine, keep) = live.partition(pred)
      tracked.clear(); tracked ++= keep
      mine.toVector.map(_.rddId)
    }
    val persisted = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => persisted.get(id).foreach(_.unpersist(blocking)))
  }
}
