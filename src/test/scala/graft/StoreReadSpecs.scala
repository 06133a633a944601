package graft

import graft.core.Timeframe
import graft.ohlcv.{Candles, CandleStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Trades and stores shared by the store-read specs. */
trait StoreFixtures extends SparkSpec {
  protected val m1: Timeframe = Timeframe.parse("1m")
  protected val m5: Timeframe = Timeframe.parse("5m")
  protected val Symbols = Seq("BTC/USDT", "ETH/USDT", "SOL")

  /** `n` trades per symbol, one every 7 s from `start`, with a price that
    * depends on symbol and time so every candle is distinct.
    */
  protected def trades(start: Long, n: Int, symbols: Seq[String] = Symbols): DataFrame = {
    import spark.implicits._
    symbols.zipWithIndex.flatMap { case (s, k) =>
      (0 until n).map(i => (s, ts(start + 7L * i), 100.0 * (k + 1) + (i % 13), 1.0 + i % 3))
    }.toDF("symbol", "ts", "price", "qty")
  }

  protected def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** `batches` mergeable micro-batches of 1m partials; from the second on,
    * each also carries trades late into the first batch's buckets.
    */
  protected def appendBatches(store: CandleStore, exchange: String, batches: Int,
                              symbols: Seq[String] = Symbols): Unit =
    (0 until batches).foreach { b =>
      val fresh = trades(T0 + 600L * b, 20, symbols)
      val late = if (b == 0) fresh.limit(0)
        else trades(T0 + 1 + b, 3, symbols).withColumn("price", col("price") + b)
      store.appendBatch(Candles.fromTradesMergeable(fresh.union(late), m1), exchange, m1, b)
    }
}

/** `CandleStore.read` opens only the addressed series with a declared
  * schema. It must read exactly what discovering the root reads: the same
  * columns in the same order, the same types and the same rows.
  */
class StoreReadSpec extends StoreFixtures {

  private type Keys = (Option[String], Option[String], Option[String])

  /** The read as it was: discover the root, shed `ingest_batch`, filter. */
  private def rootRead(root: String, k: Keys): DataFrame = {
    val loaded = spark.read.parquet(root)
    val base = if (loaded.columns.contains("ingest_batch")) loaded.drop("ingest_batch") else loaded
    Seq("exchange" -> k._1, "symbol" -> k._2, "timeframe" -> k._3).foldLeft(base) {
      case (df, (c, Some(v))) => df.where(col(c) === v)
      case (df, _) => df
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema")
    assert(rows(got) == rows(want), s"$what: rows")
  }

  private val keyCases: Seq[Keys] = Seq(
    (None, None, None),
    (Some("binance"), None, None),
    (None, None, Some("1m")),
    (None, Some("BTC/USDT"), None),
    (Some("binance"), Some("BTC/USDT"), Some("1m")),
    (Some("kraken"), Some("SOL"), Some("1m")),
    (Some("binance"), Some("NOPE"), Some("1m")), // unknown symbol: empty frame
    (Some("binance"), None, Some("4h")))         // unknown timeframe: empty frame

  /** Every key case through `read` and `readMerged` (when the store is
    * mergeable) against the root read with the same filters.
    */
  private def assertEqualReads(root: String, mergeable: Boolean): Unit = {
    val store = new CandleStore(root)
    keyCases.foreach { k =>
      val want = rootRead(root, k)
      assertSame(store.read(spark, k._1, k._2, k._3), want, s"read $k")
      if (mergeable) assertSame(store.readMerged(spark, k._1, k._2, k._3),
        Candles.mergePartials(want, Seq("exchange", "symbol", "timeframe", "bucket_ts"))
          .drop("first_ts", "last_ts"), s"readMerged $k")
    }
    assert(store.read(spark, Some("binance"), Some("BTC/USDT"), Some("1m")).count() > 0)
    assert(store.read(spark, Some("binance"), Some("NOPE"), Some("1m")).count() == 0)
  }

  test("a plain store reads as the root read, BTC/USDT and unknown keys included") {
    val root = tempDir("graft_read_plain")
    val store = new CandleStore(root)
    Seq("binance", "kraken").foreach { ex =>
      Seq(m1, m5).foreach(tf => store.write(Candles.fromTrades(trades(T0, 120), tf), ex, tf))
    }
    assert(new java.io.File(root, "exchange=binance/symbol=BTC%2FUSDT/timeframe=1m").isDirectory)
    assertEqualReads(root, mergeable = false)
  }

  test("a mergeable store with late data and its compaction read as the root read") {
    val root = tempDir("graft_read_lsm")
    val store = new CandleStore(root)
    appendBatches(store, "binance", 4)
    appendBatches(store, "kraken", 2, Seq("SOL"))
    assertEqualReads(root, mergeable = true)
    val compacted = store.compactTo(spark, tempDir("graft_read_lsm_compact") + "/gen1")
    assertEqualReads(compacted.root, mergeable = true)
    assert(rows(compacted.readMerged(spark)) == rows(store.readMerged(spark)))
  }

  test("a missing root and an empty store fail as the root read does") {
    val missing = tempDir("graft_read_missing") + "/none"
    val got = intercept[Exception](new CandleStore(missing).read(spark, Some("binance")))
    val want = intercept[Exception](rootRead(missing, (Some("binance"), None, None)))
    assert(got.getClass == want.getClass)
    val empty = tempDir("graft_read_empty")
    val gotEmpty = intercept[Exception](new CandleStore(empty).read(spark))
    assert(gotEmpty.getClass == intercept[Exception](rootRead(empty, (None, None, None))).getClass)
  }

  test("series whose data schemas differ fail the read, naming both files") {
    val root = tempDir("graft_read_drift")
    val store = new CandleStore(root)
    val candles = Candles.fromTrades(trades(T0, 60, Seq("BTC/USDT", "SOL")), m1)
    store.write(candles.where(col("symbol") === "BTC/USDT"), "binance", m1)
    store.write(candles.where(col("symbol") === "SOL").withColumn("trades", col("trades") * 1.0),
      "binance", m1)
    val e = intercept[IllegalStateException](store.read(spark, timeframe = Some("1m")))
    assert(e.getMessage.contains("symbol=SOL") && e.getMessage.contains("symbol=BTC%2FUSDT"),
      e.getMessage)
    // each series alone reads with its own columns
    assert(store.read(spark, symbol = Some("SOL")).schema("trades").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(store.read(spark, symbol = Some("BTC/USDT")).schema("trades").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("a series mixing plain files with ingest_batch directories still fails") {
    val root = tempDir("graft_read_mixed")
    val store = new CandleStore(root)
    store.write(Candles.fromTrades(trades(T0, 30, Seq("SOL")), m1), "binance", m1)
    store.appendBatch(Candles.fromTradesMergeable(trades(T0 + 3600, 30, Seq("SOL")), m1),
      "binance", m1, 1L)
    val want = intercept[Throwable](rootRead(root, (None, None, None)).collect())
    val got = intercept[Throwable](store.read(spark, Some("binance"), Some("SOL"), Some("1m"))
      .collect())
    assert(got.getClass == want.getClass, s"${got.getMessage} vs ${want.getMessage}")
  }
}

/** Job budgets of the store read path: building a read runs no Spark job
  * (no store listing or schema-inference job), and the actions that
  * resume or count one series each run at most two (the partial
  * aggregate's shuffle stage and the final stage).
  */
class StoreReadJobBudgetSpec extends StoreFixtures {
  test("building read/readMerged runs 0 jobs; resumeSince and count run at most 2") {
    val root = tempDir("graft_read_budget")
    val store = new CandleStore(root)
    // plain series at 5m, batch-addressed series (24 batches each) at 1m
    store.write(Candles.fromTrades(trades(T0, 120), m5), "binance", m5)
    appendBatches(store, "binance", 24)
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "read one plain series" -> (() => store.read(spark, Some("binance"), Some("SOL"), Some("5m"))),
      "read plain timeframe" -> (() => store.read(spark, timeframe = Some("5m"))),
      "read one batched series" ->
        (() => store.read(spark, Some("binance"), Some("BTC/USDT"), Some("1m"))),
      "readMerged one series" ->
        (() => store.readMerged(spark, Some("binance"), Some("ETH/USDT"), Some("1m"))),
      "readMerged every symbol" -> (() => store.readMerged(spark, Some("binance"), None, Some("1m"))))
    builds.foreach { case (what, build) =>
      val n = jobsRun(build())
      assert(n == 0, s"$what: $n jobs to build")
    }
    Seq(m1, m5).foreach { tf =>
      val resume = jobsRun(store.resumeSince(spark, "binance", "ETH/USDT", tf))
      assert(resume <= 2, s"resumeSince $tf: $resume jobs")
      val count = jobsRun(store.read(spark, Some("binance"), Some("ETH/USDT"), Some(tf.toString)).count())
      assert(count <= 2, s"count $tf: $count jobs")
    }
    assert(store.resumeSince(spark, "binance", "ETH/USDT", m1).contains(ts(T0 + 600L * 23 + 120)))
  }
}
