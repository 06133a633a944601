package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (builder-local
    // iteration only; the driver always passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[Set[String]])
      case Array(a, b, f) => (a, b, Some(f.split(",").toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [onlyCsv]")
        sys.exit(2)
    }
    // the one session config: Verify checks the plans Bench times
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, outDir, only) finally spark.stop()
  }

  /** Writes `<outDir>/<name>` parquet and the `oracle_sql.json` entry of
    * every query (or only the named ones), both from the same record.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    val oracles = SparkEntry.queries.filter(q => only.forall(_.contains(q.name))).map { q =>
      // Session tz is UTC, so cast to NTZ is wall-clock identity; it makes
      // the parquet timestamps naive, matching the DuckDB oracle's output.
      try {
        val df = q.build(spark, sfDir)
        val ntz = df.schema.fields.collect {
          case f if f.dataType == TimestampType => f.name
        }.foldLeft(df)((d, n) => d.withColumn(n, col(n).cast(TimestampNTZType)))
        // repartition(1), NOT coalesce(1): coalesce propagates up to the
        // previous exchange, so a query whose final stage is a join/agg ran
        // that ENTIRE stage in one task — invisible at sf0.01, a serial
        // wall at the ×27 full-registry verify. repartition inserts an
        // exchange: upstream keeps its parallelism, output stays one file.
        ntz.repartition(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      // Query boundary: drop this query's localCheckpoint blocks so the
      // 126-query session doesn't accumulate every pipeline's materialized
      // frames (the round-4 dedup_minhash/simhash regression). releaseAll
      // is safe here because this loop runs queries strictly serialized.
      finally graft.core.Materialize.releaseAll(spark)
      s"${json(q.name)}: ${json(q.oracleSql)}"
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracles.mkString("{", ",", "}"))
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in hand-written oracle SQL would otherwise make the
  // checker's json.load fail and silently zero the correctness run.
  private def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
