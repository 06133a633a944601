package graft.tools

import graft.core.{GraftSession, Materialize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The loop the registry sweeps share. Every `SparkEntry.queries` entry
  * (optionally only the named ones) runs inside its own Materialize scope,
  * released blocking at the query boundary. A check that returns a
  * message or throws records a failure for that query.
  */
object Sweep {
  type Query = (SparkSession, String) => DataFrame

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def failures(spark: SparkSession, only: Option[Set[String]] = None)(
      check: Query => Option[String]): Seq[(String, String)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, fn) =>
        Materialize.inScope { scope =>
          try check(fn)
          catch { case e: Throwable =>
            Some(e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage).linesIterator.take(1).mkString)
          }
          finally scope.release(spark, blocking = true)
        }.map(name -> _)
      }

  /** Queries that throw when run (to a count) over the tables in `dir`. */
  def crashes(spark: SparkSession, dir: String): Seq[(String, String)] =
    failures(spark) { fn => fn(spark, dir).count(); None }

  /** Writes `f` of every table under `src` to the same name under `dst`. */
  def rewrite(spark: SparkSession, src: String, dst: String)(
      f: DataFrame => DataFrame): Unit = tables.foreach { t =>
    f(spark.read.parquet(s"$src/$t.parquet"))
      .write.mode("overwrite").parquet(s"$dst/$t.parquet")
  }

  /** Runs `body` on a fresh temporary directory, deleted afterwards. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally NullSweep.deleteRecursively(dir)
  }

  /** CLI shell: `<main> <sfDir> [...]` on the one session config, printing
    * either the clean line or one line per failure.
    */
  def cli(tag: String, clean: String, args: Array[String])(
      sweep: (SparkSession, String) => Seq[(String, String)]): Unit = {
    require(args.nonEmpty, s"usage: $tag <sfDir> [...]")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val t0 = System.nanoTime()
      val fs = sweep(spark, args(0))
      val secs = (System.nanoTime() - t0) / 1e9
      if (fs.isEmpty) println(f"[$tag] clean: $clean ($secs%.1f s)")
      else fs.foreach { case (n, m) => println(s"[$tag] $n: $m") }
    } finally spark.stop()
  }
}

/** Empty-corpus robustness sweep: run every registry query against
  * zero-row copies of all tables (schemas preserved) and report which
  * queries crash instead of returning an empty (or empty-model) result —
  * the 2am empty-partition scenario a 100 TB pipeline hits whenever an
  * upstream filter drops a day's data.
  *
  * Run: `runMain graft.tools.EmptySweep <sfDir>` (sweeps an empty copy).
  */
object EmptySweep {
  def failures(spark: SparkSession, dir: String): Seq[(String, String)] =
    Sweep.crashes(spark, dir)

  def main(args: Array[String]): Unit =
    Sweep.cli("emptysweep", "every query tolerates an empty corpus", args) {
      (spark, src) => Sweep.withTempDir("graft_empty") { dir =>
        Sweep.rewrite(spark, src, dir)(_.limit(0))
        failures(spark, dir)
      }
    }
}

/** Null-dirt robustness sweep: run every registry query against a copy
  * of the corpus where each table carries extra rows whose string,
  * floating, decimal, and timestamp columns are NULL (integer keys
  * survive, so joins still resolve). This is the malformed-feed
  * scenario a 100 TB ingest hits daily — a crawler emits a document
  * with no text, an exchange feed drops a price, a schema migration
  * leaves a column null for a day. The contract mirrors EmptySweep's:
  * null-essential rows produce empty/skipped RESULTS (dropped at the
  * op's own boundary), never a driver crash.
  *
  * Run: `runMain graft.tools.NullSweep <sfDir>`.
  */
object NullSweep {

  /** Writes the dirtied copy: first `n` rows of each table plus those
    * same rows re-emitted with nullable non-integer columns NULLed.
    */
  def writeDirty(spark: SparkSession, srcDir: String, dstDir: String,
      n: Int = 20): Unit = Sweep.rewrite(spark, srcDir, dstDir) { all =>
    val df = all.limit(n)
    val nulled = df.select(df.schema.fields.map { f =>
      f.dataType match {
        case StringType | DoubleType | FloatType | _: DecimalType |
             TimestampType | TimestampNTZType | _: ArrayType =>
          lit(null).cast(f.dataType).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
    df.unionByName(nulled)
  }

  def failures(spark: SparkSession, dir: String): Seq[(String, String)] =
    Sweep.crashes(spark, dir)

  def main(args: Array[String]): Unit =
    Sweep.cli("nullsweep", "every query tolerates null-dirtied rows", args) {
      (spark, src) => Sweep.withTempDir("graft_null") { dir =>
        writeDirty(spark, src, dir)
        failures(spark, dir)
      }
    }

  /** Remove a sweep's dirtied-parquet temp directory — repeated CI/test
    * runs otherwise accumulate full corpus copies under /tmp.
    */
  def deleteRecursively(dir: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    import java.util.Comparator
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
  }
}

/** Partitioning-invariance sweep: run every registry query under the
  * session's production conf AND under an adversarial conf (different
  * shuffle-partition count, AQE off, parquet scans split into many small
  * input partitions) and report any query whose SORTED result set
  * changes. This enforces, registry-wide, the determinism claims the
  * engine makes operator-by-operator (exact decimal partial sums,
  * integer-scaled PageRank, range-partition ranks, packed-argmin
  * windows): on a real cluster the partition count is whatever the
  * scheduler gives you, so a result that depends on it is a latent
  * 2am wrong-answer — and a flaky oracle — not a style issue.
  *
  * The adversarial leg varies all three partitioning axes a cluster
  * varies: shuffle width (7, coprime to the session's), runtime
  * re-planning (AQE off — no coalescing to paper over width-sensitive
  * plans), and SCAN splits (tiny maxPartitionBytes/openCost so each
  * parquet file fans into many input partitions — map-side partial
  * aggregation then runs over genuinely different row groupings).
  *
  * Run: `runMain graft.tools.InvarianceSweep <sfDir> [query,...]`.
  */
object InvarianceSweep {

  private val alt = Map(
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.files.maxPartitionBytes" -> "262144",
    "spark.sql.files.openCostInBytes" -> "0")

  def failures(spark: SparkSession, dir: String,
               only: Option[Set[String]] = None): Seq[(String, String)] = {
    val saved = alt.keys.map(k => k -> spark.conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    def canon(fn: Sweep.Query): String =
      fn(spark, dir).collect().map(_.toString).sorted.mkString("\n")
    Sweep.failures(spark, only) { fn =>
      val a = canon(fn)
      val b = try { alt.foreach { case (k, v) => spark.conf.set(k, v) }; canon(fn) }
        finally restore()
      if (a == b) None
      else {
        val diff = a.linesIterator.zipAll(b.linesIterator, "<missing>", "<missing>")
          .zipWithIndex.collectFirst { case ((x, y), i) if x != y =>
            s"row $i: prod=$x alt=$y" }
        Some("results differ across partitionings (" +
          s"${a.linesIterator.size} vs ${b.linesIterator.size} rows; " +
          s"first diff ${diff.getOrElse("row count")})")
      }
    }
  }

  def main(args: Array[String]): Unit =
    Sweep.cli("invariance", "every query partition-invariant", args) {
      (spark, dir) => failures(spark, dir, args.lift(1).map(_.split(",").toSet))
    }
}
