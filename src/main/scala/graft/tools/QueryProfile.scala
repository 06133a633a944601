package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-query breakdown the bench's single wall number hides (guide §1:
  * measure first): for each named query, run it once cold inside a
  * Materialize scope and report
  *   - the number of Spark JOBS the action tree spawned (every collect /
  *     checkpoint / AQE stage boundary pays scheduling + planning),
  *   - per-job wall + task time + task count,
  *   - the Catalyst phase timings (parsing/analysis/optimization/planning)
  *     summed over every QueryExecution the query triggered,
  *   - executor cpu vs wall (the parallelism verdict: ecpu >> wall/cores
  *     means the compute is real; wall >> ecpu means driver/scheduling).
  *
  * Diagnostic main (not part of the bench contract), on the session
  * config Bench times. Usage:
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.tools.QueryProfile <sfDir> q1 q2 ..."
  */
object QueryProfile {
  private final class JobTap extends SparkListener {
    final case class J(id: Int, desc: String, start: Long, var end: Long = 0L,
                       var tasks: Int = 0, var taskMs: Long = 0L, var cpuNs: Long = 0L)
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, J]
    // stage → job from SparkListenerJobStart.stageInfos: AQE and
    // broadcast-exchange jobs overlap even in local mode, so attributing
    // a task to "the most recent unfinished job" misassigned per-job
    // splits (totals were right, splits weren't) — ADVICE r15
    private val stageToJob = new scala.collection.mutable.HashMap[Int, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))
          .orElse(Option(p.getProperty("callSite.short")))).getOrElse("")
      jobs(e.jobId) = J(e.jobId, d, e.time)
      e.stageInfos.foreach(si => stageToJob(si.stageId) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val m = e.taskMetrics
      if (m != null) stageToJob.get(e.stageId).flatMap(jobs.get)
        .orElse(jobs.values.lastOption) // resubmitted stage not in any JobStart
        .foreach { j =>
          j.tasks += 1; j.taskMs += m.executorRunTime; j.cpuNs += m.executorCpuTime
        }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile <sfDir> [query ...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    Diagnostics.warm(spark)

    // Catalyst phase tracker totals across every execution in the query
    val phases = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.tracker.phases.foreach { case (p, s) =>
          phases.merge(p, s.endTimeMs - s.startTimeMs, java.lang.Long.sum _)
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)

    // Janino/whole-stage-codegen compile tracking: the driver-side cost
    // that lives in NO job and NO Catalyst phase (the "gap")
    val ccTime = org.apache.spark.metrics.source
      .CodegenMetrics.METRIC_COMPILATION_TIME
    // optional per-rule Catalyst timing (verdict r15 ask #8): reset the
    // global rule-executor meter per query and dump the top rules after —
    // the channel that would justify (or kill) excluding an optimizer rule
    val dumpRules = sys.env.get("SPARK_GRAFT_RULES").contains("1")
    names.foreach { name =>
      val tap = new JobTap
      spark.sparkContext.addSparkListener(tap)
      phases.clear()
      if (dumpRules)
        org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
      val cc0 = (ccTime.getCount, ccTime.getSnapshot.getMean * ccTime.getCount)
      graft.core.Materialize.inScope { scope =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Diagnostics.drainListenerBus(spark) // so the tap is complete
        val js = tap.jobs.synchronized(tap.jobs.values.toSeq)
        val jobWall = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
        val ecpu = js.map(_.cpuNs).sum / 1e9
        val ccN = ccTime.getCount - cc0._1
        val ccMs = ccTime.getSnapshot.getMean * ccTime.getCount - cc0._2
        // compile COUNT is exact; the time figure is mean×count over a
        // sampled decaying reservoir — approximate once compiles age out
        // (ADVICE r15), printed as such
        println(f"\n===== $name: wall $wall%.3f s, jobs ${js.size}, " +
          f"job-wall $jobWall%.3f s, gap(wall-jobwall) ${wall - jobWall}%.3f s, ecpu $ecpu%.3f s, " +
          f"codegen ${ccN} compiles, approx ${ccMs / 1e3}%.2f s (reservoir estimate)")
        import scala.jdk.CollectionConverters._
        println("  phases: " + phases.asScala.toSeq.sortBy(-_._2)
          .map { case (p, ms) => f"$p=${ms / 1e3}%.3f s" }.mkString(", "))
        js.foreach { j =>
          println(f"  job ${j.id}%3d ${math.max(0L, j.end - j.start) / 1e3}%6.3f s " +
            f"tasks ${j.tasks}%4d taskTime ${j.taskMs / 1e3}%7.3f s cpu ${j.cpuNs / 1e9}%7.3f s  ${j.desc.take(80)}")
        }
        if (dumpRules) {
          val dump = org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
          println("  top rules (ms):")
          dump.linesIterator
            .filter(_.contains("org.apache.spark"))
            .take(15).foreach(l => println("    " + l.trim))
        }
        scope.release(spark, blocking = true)
      }
      spark.sparkContext.removeSparkListener(tap)
    }
    spark.stop()
  }
}
