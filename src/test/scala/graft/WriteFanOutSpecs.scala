package graft

import graft.core.{Tables, Timeframe}
import graft.ohlcv.{Candles, CandleStore}
import graft.sinks.SqliteExport
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Series writers fan out per core yet keep one file per series. */
class SeriesFanOutSpec extends SparkSpec {

  /** More series than the session has cores, so the writer stage has to
    * spread them over several tasks.
    */
  private lazy val symbols = (0 until spark.sparkContext.defaultParallelism * 3)
    .map(i => f"S$i%02d")
  private lazy val m1 = Timeframe.parse("1m")

  /** Candles spread round-robin over more partitions than cores, so every
    * series starts out split across tasks.
    */
  private def scattered(candles: DataFrame): DataFrame =
    candles.repartition(spark.sparkContext.defaultParallelism * 2)

  private def trades(batch: Int): DataFrame =
    spark.range(symbols.size * 120L).select(
      element_at(typedLit(symbols), (col("id") % symbols.size + 1).cast("int")).as("symbol"),
      timestamp_seconds(lit(T0 + batch * 7200L) + col("id") * 7).as("ts"),
      (lit(100.0) + col("id") % 13).as("price"),
      (col("id") % 5 + 1).cast("double").as("qty"))

  private def parquetFiles(root: String): Seq[Path] = {
    val it = Files.walk(Paths.get(root))
    try it.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally it.close()
  }

  /** One file in every exchange=/symbol=/timeframe= directory, one such
    * directory per symbol, and the files written by more than one task
    * (a part file's index is the partition id of the task that wrote it).
    */
  private def assertOneFilePerSeries(root: String): Unit = {
    val files = parquetFiles(root)
    val bySeries = files.groupBy(_.getParent)
    assert(bySeries.size == symbols.size)
    bySeries.foreach { case (dir, fs) => assert(fs.size == 1, s"$dir holds ${fs.size} files") }
    val writerTasks = files.map(_.getFileName.toString.slice(5, 10)).distinct
    assert(writerTasks.size > 1, "every series was written by a single task")
  }

  test("CandleStore.write and compactTo write one file per series from several tasks") {
    val root = Files.createTempDirectory("graft_fanout").toString
    val store = new CandleStore(root)
    store.write(scattered(Candles.fromTrades(trades(0), m1)), "testex", m1)
    assertOneFilePerSeries(root)

    val src = new CandleStore(Files.createTempDirectory("graft_fanout_src").toString)
    (0 until 3).foreach(b => src.appendBatch(Candles.fromTrades(trades(b), m1), "testex", m1, b))
    val dest = Files.createTempDirectory("graft_fanout_dst").toString
    val compacted = src.compactTo(spark, dest)
    assertOneFilePerSeries(dest)
    assert(compacted.read(spark).count() == src.read(spark).count())
  }

  test("SqliteExport.export writes exactly one sqlite file per symbol") {
    val root = Files.createTempDirectory("graft_fanout_sqlite").toString
    val written = SqliteExport.export(scattered(Candles.fromTrades(trades(0), m1)),
      "testex", m1, root)
    assert(written == symbols.map(s => SqliteExport.dbPath("testex", s, "1m")))
    val it = Files.walk(Paths.get(root))
    val onDisk = try it.iterator().asScala.count(_.toString.endsWith(".sqlite")) finally it.close()
    assert(onDisk == symbols.size)
  }
}

/** A cached frame is coalesced by size like any other shuffle, and frames
  * derived from it stay exact (SPARK-45592 gave wrong joins over coalesced
  * caches before Spark 3.5.1).
  */
class CachedCascadeSpec extends SparkSpec {
  test("cascade over a size-coalesced cached 1m frame equals fromTrades") {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    // more shuffle partitions than cores: an uncoalesced cache keeps them all
    spark.conf.set(key, (spark.sparkContext.defaultParallelism * 8).toString)
    val trades = Tables.trades(spark, Sf0001)
    val cached = Candles.fromTrades(trades, Timeframe.parse("1m")).cache()
    try {
      val n = cached.count()
      assert(n > 0)
      assert(cached.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
      def same(a: DataFrame, b: DataFrame): Boolean =
        a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      Seq("5m", "1h", "1d").map(Timeframe.parse).foreach { tf =>
        assert(same(Candles.resample(cached, tf), Candles.fromTrades(trades, tf)), s"$tf")
      }
      // a join on the cache's own key must still meet every row
      val fresh = Candles.fromTrades(trades, Timeframe.parse("1m"))
      assert(cached.join(fresh, Seq("symbol", "bucket_ts")).count() == n)
    } finally {
      cached.unpersist()
      spark.conf.set(key, old)
    }
  }
}
