package graft

import graft.core.Tables
import graft.ohlcv.CandleStore
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

/** One session builder: every main builds its session from `GraftSession`,
  * so the diagnostics inspect the config the engine ships rather than a
  * hand-copied one that drifts from it.
  */
class SessionBuilderSpec extends AnyFunSuite {
  private def scalaSources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaSources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** (path, line number, line) of every source line under `root` that
    * contains `needle`.
    */
  private def hits(root: String, needle: String): Seq[String] = {
    val dir = new java.io.File(root)
    assert(dir.isDirectory, s"sources not found at ${dir.getAbsolutePath}")
    scalaSources(dir).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${f.getPath}:${i + 1}: ${line.trim}"
      }.toList finally src.close()
    }
  }

  test("no SparkSession.builder() in src/main outside core/GraftSession.scala") {
    val found = hits("src/main/scala", "SparkSession.builder()")
      .filterNot(_.startsWith("src/main/scala/graft/core/GraftSession.scala:"))
    assert(found.isEmpty, "sessions built outside GraftSession:\n" + found.mkString("\n"))
  }

  test("no .config( under graft/tools") {
    val found = hits("src/main/scala/graft/tools", ".config(")
    assert(found.isEmpty, "session config copied into a tool:\n" + found.mkString("\n"))
  }
}

class IngestCliSpec extends SparkSpec {
  test("ingest with --since past the last trade and a csvOut leaves the store unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    try {
      val store = s"$root/store"
      val csv = s"$root/csv"
      Ingest.run(spark, Array(Sf0001, store, "binance", "1h"))
      def stored(): Seq[String] =
        new CandleStore(store).read(spark).collect().map(_.toString).sorted.toSeq
      val before = stored()
      assert(before.nonEmpty)
      val last = Tables.trades(spark, Sf0001).agg(max(col("ts"))).head().getTimestamp(0)
      val since = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
        .format(last.toInstant.plusSeconds(86400))
      Ingest.run(spark, Array(Sf0001, store, "binance", "1h", csv, s"--since=$since"))
      assert(stored() == before)
      assert(!new java.io.File(csv).exists(), "an empty batch exported a CSV")
    } finally graft.tools.NullSweep.deleteRecursively(root)
  }

  test("ingest with --sqlite scans the trades directory once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val tape = new java.io.File(Sf0001).getCanonicalPath
    // every scan node a query ran, the cached relation's plan included:
    // a cached resample is one plan shared by the queries that read it
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val tapeScans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        scans(qe.executedPlan).filter(_.relation.location.rootPaths
          .exists(_.toUri.getPath.startsWith(tape))).foreach(tapeScans.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_scan").toString
    graft.tools.Diagnostics.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      Ingest.run(spark, Array(Sf0001, s"$root/store", "binance", "1h", s"--sqlite=$root/sqlite"))
      graft.tools.Diagnostics.drainListenerBus(spark)
    } finally {
      spark.listenerManager.unregister(listener)
      graft.tools.NullSweep.deleteRecursively(root)
    }
    assert(tapeScans.size == 1, s"${tapeScans.size} scans of the trades directory")
  }
}
