package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, ExpandExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch ms (to line up with Spark
  * event times) plus nanos for the wall itself.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
                      startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** Span recorder plus the Spark-side taps. Disabled, `span` only runs the
  * body: the untraced run registers no listener and sets no property.
  * Enabled, a span sets the `graftbench.span` local property so jobs on
  * the client thread carry their span id; jobs on other threads (the
  * streaming micro-batch thread) and query-execution events are placed in
  * the innermost span whose interval holds their start time.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var on = false // false while an untraced pass of a traced run runs
  val tap = new Tap
  val cores: Int = sc.defaultParallelism
  private val codegen =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  var tracedPasses = 0
  var codegenCompiles = 0L
  var peakMatBlocks = 0
  /** Counts the workload reports from inside traced passes. */
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def active: Boolean = on
  def count(name: String, n: Double): Unit = if (on) counters(name) += n

  if (enabled) {
    sc.addSparkListener(tap)
    spark.listenerManager.register(tap.qel)
    spark.streams.addListener(tap.streams)
  }

  /** Trace the passes run inside `body` (no-op when disabled). */
  def tracing[T](traced: Boolean)(body: => T): T = {
    on = enabled && traced
    val c0 = codegen.getCount
    try body finally {
      if (on) { tracedPasses += 1; codegenCompiles += codegen.getCount - c0; drain() }
      on = false
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack.push(s)
      sc.setLocalProperty("graftbench.span", s.id.toString)
      try body finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack.pop()
        sc.setLocalProperty("graftbench.span", stack.headOption.map(_.id.toString).orNull)
        peakMatBlocks = math.max(peakMatBlocks,
          graft.core.Materialize.liveBlockCount(spark))
      }
    }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(300) }

  /** Innermost span holding `ms`, or the span named by `prop`. */
  def spanOf(prop: Option[Int], ms: Long): Option[Span] =
    prop.flatMap(spans.lift).orElse(
      spans.filter(_.contains(ms)).sortBy(s => (s.startNs, s.id)).lastOption)

  /** Is `s` or one of its ancestors named with `prefix`? */
  def under(s: Span, prefix: String): Boolean =
    s.name.startsWith(prefix) ||
      (s.parent >= 0 && under(spans(s.parent), prefix))

  def stop(): Unit = if (enabled) {
    sc.removeSparkListener(tap)
    spark.listenerManager.unregister(tap.qel)
    spark.streams.removeListener(tap.streams)
  }

  /** Spans with self time (wall minus children's wall), as JSON lines. */
  def spanLines(runId: String): Seq[String] = {
    val childWall = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childWall(s.parent) += s.wallS)
    spans.toSeq.map { s =>
      f"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}%.6f,""" +
        f""""self_s":${s.wallS - childWall(s.id)}%.6f}"""
    }
  }
}

object Tap {
  final case class Job(timeMs: Long, prop: Option[Int], stages: Seq[Int])
  final case class Task(stage: Int, runS: Double, cpuS: Double,
                        gcS: Double, shufW: Long, shufR: Long, fetchWaitS: Double,
                        spill: Long)
  /** What one query execution did, read from its phases and plan metrics. */
  final case class Query(timeMs: Long, analysisMs: Long, optimizerMs: Long,
                         physicalMs: Long, scanFiles: Long, scanBytes: Long,
                         scanS: Double, metadataS: Double, writeRows: Long,
                         writeFiles: Long, writeBytes: Long, commitS: Double,
                         expandRows: Long, asofIn: Long)
  final case class Progress(timeMs: Long, durations: Map[String, Long], rows: Long)
}

/** Raw Spark events, kept until the run ends. */
final class Tap extends SparkListener {
  import Tap._
  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val stages = mutable.Set.empty[Int]
  val queries = mutable.ArrayBuffer.empty[Query]
  val progress = mutable.ArrayBuffer.empty[Progress]
  private val blocks = mutable.Map.empty[String, Long]
  var peakCachedBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p =>
      Option(p.getProperty("graftbench.span"))).map(_.toInt)
    jobs += Job(e.time, prop, e.stageIds)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += e.stageInfo.stageId }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime / 1e3,
      m.executorCpuTime / 1e9, m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime / 1e3,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      if (size > 0) blocks(info.blockId.name) = size else blocks -= info.blockId.name
      peakCachedBytes = math.max(peakCachedBytes, blocks.values.sum)
    }
  }

  /** Every plan node, through adaptive plans, query stages and commands. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p.children ++ (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case _ => Seq.empty
  })
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (kids(p) ++ p.subqueries).flatMap(nodes)

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).fold(0L)(_.value)

  private def firstRows(p: SparkPlan): Long =
    if (p.metrics.contains("numOutputRows")) metric(p, "numOutputRows")
    else kids(p).map(firstRows).sum

  val qel: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).fold(0L)(s => s.endTimeMs - s.startTimeMs)
      val at = ph.get("planning").fold(System.currentTimeMillis())(_.endTimeMs)
      val all = nodes(qe.executedPlan)
      val scans = all.filter(_.isInstanceOf[FileSourceScanExec])
      val writes = all.filter(_.isInstanceOf[DataWritingCommandExec])
      val asof = all.filter(_.getClass.getSimpleName.startsWith("AsofJoinExec"))
      val q = Query(at, ms("analysis"), ms("optimization"), ms("planning"),
        scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum,
        scans.map(metric(_, "scanTime")).sum / 1e3,
        scans.map(metric(_, "metadataTime")).sum / 1e3,
        writes.map(metric(_, "numOutputRows")).sum, writes.map(metric(_, "numFiles")).sum,
        writes.map(metric(_, "numOutputBytes")).sum,
        writes.map(w => metric(w, "jobCommitTime") + metric(w, "taskCommitTime")).sum / 1e3,
        all.filter(_.isInstanceOf[ExpandExec]).map(metric(_, "numOutputRows")).sum,
        asof.flatMap(_.children).map(firstRows).sum)
      Tap.this.synchronized { queries += q }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      Tap.this.synchronized {
        progress += Progress(t, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows)
      }
    }
  }
}
