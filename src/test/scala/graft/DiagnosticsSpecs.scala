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
}
