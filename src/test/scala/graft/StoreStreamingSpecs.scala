package graft

import graft.core.{Tables, Timeframe}
import graft.ohlcv.{Candles, CandleStore}
import graft.streaming.StreamingCandles
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

class CandleStoreSpec extends SparkSpec {

  private lazy val tf = Timeframe.parse("1h")
  private lazy val candles =
    Candles.fromTrades(Tables.trades(spark, Sf0001), tf)

  test("write/read roundtrip with partition pruning") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new CandleStore(root)
    store.write(candles, "testex", tf)

    val one = store.read(spark, Some("testex"), Some("click"), Some("1h"))
    val expected = candles.where(col("symbol") === "click").count()
    assert(one.count() == expected && expected > 0)

    // partition pruning visible in the plan (no full-store scan)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("symbol") || plan.contains("exchange")))

    // resume point matches max bucket for the series
    val resume = store.resumeSince(spark, "testex", "click", tf)
    val expectedMax = candles.where(col("symbol") === "click")
      .agg(max("bucket_ts")).head().getTimestamp(0)
    assert(resume.contains(expectedMax))
  }

  test("store files are time-sorted so row-group stats prune range scans") {
    val root = Files.createTempDirectory("graft_store_sorted").toString
    val store = new CandleStore(root)
    store.write(candles, "testex", tf)
    // every physical file holds its rows in bucket_ts order — the property
    // that makes parquet row-group min/max statistics selective for
    // time-range filters (each group covers a narrow, disjoint slice)
    val byFile = spark.read.parquet(root)
      .select(input_file_name().as("f"), col("bucket_ts"))
      .collect().groupBy(_.getString(0))
    assert(byFile.nonEmpty)
    byFile.foreach { case (f, rows) =>
      val ts = rows.map(_.getTimestamp(1).getTime)
      assert(ts.sameElements(ts.sorted), s"unsorted file $f")
    }
    // values unchanged by the sorted write
    val roundtrip = store.read(spark).select("symbol", "bucket_ts", "open",
      "high", "low", "close", "volume", "trades").collect().map(_.toSeq).toSet
    val exp = candles.select("symbol", "bucket_ts", "open",
      "high", "low", "close", "volume", "trades").collect().map(_.toSeq).toSet
    assert(roundtrip == exp)
  }

  test("dynamic partition overwrite keeps untouched partitions (idempotent re-ingest)") {
    val root = Files.createTempDirectory("graft_store2").toString
    val store = new CandleStore(root)
    store.write(candles, "testex", tf)
    val before = store.read(spark).count()
    // re-write only one symbol's partition
    store.write(candles.where(col("symbol") === "click"), "testex", tf)
    assert(store.read(spark).count() == before)
  }

  test("salted aggregation equals plain aggregation (skew path)") {
    val trades = graft.core.Tables.trades(spark, Sf0001)
    val plain = graft.ohlcv.Candles.fromTrades(trades, tf)
      .collect().map(_.toSeq).toSet
    val salted = graft.ohlcv.Candles.fromTradesSalted(trades, tf, 16)
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("bucketed candle tables join with no shuffle") {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // in-memory catalog forgets tables across JVMs but their warehouse
      // dirs persist; clear both
      Seq("c_bucketed_a", "c_bucketed_b").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        if (loc.exists()) {
          import scala.reflect.io.Directory
          new Directory(loc).deleteRecursively()
        }
      }
      val store = new CandleStore("unused")
      store.writeBucketedTable(candles, "c_bucketed_a")
      store.writeBucketedTable(
        graft.ohlcv.Analytics.stats(candles)
          .withColumnRenamed("n_buckets", "nb"), "c_bucketed_b",
        sortCols = Seq("symbol"))
      val joined = spark.table("c_bucketed_a")
        .join(spark.table("c_bucketed_b"), "symbol")
      joined.count() // force final plan under AQE
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected shuffle-free bucketed join, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("asof join on bucketed inputs plans with ZERO exchanges (the §4 elision claim)") {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Seq("c_asof_bk_l", "c_asof_bk_r").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        if (loc.exists()) {
          import scala.reflect.io.Directory
          new Directory(loc).deleteRecursively()
        }
      }
      val store = new CandleStore("unused")
      store.writeBucketedTable(candles, "c_asof_bk_l")
      store.writeBucketedTable(candles, "c_asof_bk_r")
      // AsofJoinExec only DECLARES ClusteredDistribution(key) — for
      // bucketed children EnsureRequirements finds both sides already
      // hash-partitioned on symbol and plans NO exchange at all, the
      // property the hand-repartitioned formulation can never have
      val joined = graft.operators.AsofJoin.joinNative(
        spark.table("c_asof_bk_l"), spark.table("c_asof_bk_r"),
        "symbol", "bucket_ts", "bucket_ts", "r_")
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("AsofJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"expected shuffle-free bucketed as-of join, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("csv export mirrors sqlite2csv") {
    val root = Files.createTempDirectory("graft_store3").toString
    val out = Files.createTempDirectory("graft_csv").toString + "/out"
    val store = new CandleStore(root)
    store.write(candles, "testex", tf)
    store.exportCsv(spark, out, "testex", "click", tf)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.columns.toSeq ==
      Seq("bucket_ts", "open", "high", "low", "close", "volume", "trades"))
    assert(back.count() == candles.where(col("symbol") === "click").count())
  }
}

class StreamingCandlesSpec extends SparkSpec {

  test("streaming candles match the batch aggregation (append mode + watermark)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tf = Timeframe.parse("1m")
    val batch1 = Seq(
      ("BTC", ts(T0 + 10), 100.0, 1.0), ("BTC", ts(T0 + 20), 105.0, 2.0),
      ("ETH", ts(T0 + 30), 10.0, 1.0))
    val batch2 = Seq( // advances watermark past the first window
      ("BTC", ts(T0 + 2000), 99.0, 1.0))

    val ms = MemoryStream[(String, java.sql.Timestamp, Double, Double)]
    val trades = ms.toDF.toDF("symbol", "ts", "price", "qty")
    val q = StreamingCandles.fromTrades(trades, tf, "10 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_candles").start()
    try {
      ms.addData(batch1: _*); q.processAllAvailable()
      ms.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("stream_candles")
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .collect().map(_.toSeq).toSet
    val expected = Candles.fromTrades(
        (batch1 ++ batch2).toDF("symbol", "ts", "price", "qty"), tf)
      .where(col("bucket_ts") < lit(ts(T0 + 1980))) // only watermark-closed windows emit
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .collect().map(_.toSeq).toSet
    assert(got == expected && got.size == 2)
  }
}

class StreamingIngestSpec extends SparkSpec {
  test("streaming trades land in the candle store (full reference loop, live)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tf = Timeframe.parse("1m")
    val root = Files.createTempDirectory("graft_stream_store").toString
    val store = new CandleStore(root)

    val ms = MemoryStream[(String, java.sql.Timestamp, Double, Double)]
    val q = graft.streaming.StreamingIngest.run(
      ms.toDF.toDF("symbol", "ts", "price", "qty"), tf, store, "binance",
      watermark = "5 seconds")
    try {
      ms.addData(("BTC", ts(T0 + 10), 100.0, 1.0), ("BTC", ts(T0 + 20), 104.0, 2.0))
      q.processAllAvailable()
      ms.addData(("BTC", ts(T0 + 600), 99.0, 1.0)) // closes the first window
      q.processAllAvailable()
    } finally q.stop()

    val stored = store.read(spark, Some("binance"), Some("BTC"), Some("1m"))
      .select("bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .collect()
    assert(stored.length == 1) // only the watermark-closed window persisted
    val c = stored.head
    assert(c.getTimestamp(0) == ts(T0) && c.getAs[Double]("open") == 100.0 &&
      c.getAs[Double]("high") == 104.0 && c.getAs[Double]("volume") == 3.0 &&
      c.getAs[Long]("trades") == 2L)
  }
}

class IdempotentSinkSpec extends SparkSpec {
  test("replaying a micro-batch overwrites its output instead of duplicating") {
    import spark.implicits._
    val tf = Timeframe.parse("1m")
    val root = Files.createTempDirectory("graft_replay_store").toString
    val store = new CandleStore(root)
    val candles = Seq(("BTC", ts(T0), 100.0, 104.0, 99.0, 101.0, 3.0, 2L))
      .toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
    // foreachBatch is at-least-once: simulate a crash-replay of batch 7
    store.appendBatch(candles, "binance", tf, 7L)
    store.appendBatch(candles, "binance", tf, 7L)
    assert(store.read(spark).count() == 1)
    // a different batch id is a genuine new batch, not a replay
    val more = Seq(("BTC", ts(T0 + 600), 99.0, 99.0, 98.0, 98.0, 1.0, 1L))
      .toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
    store.appendBatch(more, "binance", tf, 8L)
    assert(store.read(spark).count() == 2)
    assert(!store.read(spark).columns.contains("ingest_batch"))
  }

  test("compaction collapses per-batch directories into one file per series") {
    import spark.implicits._
    val tf = Timeframe.parse("1m")
    val root = Files.createTempDirectory("graft_compact_src").toString
    val store = new CandleStore(root)
    (0 until 5).foreach { b =>
      val c = Seq(("BTC", ts(T0 + b * 600), 100.0 + b, 104.0, 99.0, 101.0, 1.0, 1L))
        .toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      store.appendBatch(c, "binance", tf, b.toLong)
    }
    def parquetFiles(dir: String): Int = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try it.filter(_.toString.endsWith(".parquet")).count().toInt finally it.close()
    }
    val before = store.read(spark).select("symbol", "bucket_ts", "open").collect().toSet
    assert(parquetFiles(root) >= 5) // one dir per micro-batch
    val dest = Files.createTempDirectory("graft_compact_dst").toString
    val compacted = store.compactTo(spark, dest)
    assert(parquetFiles(dest) == 1)
    assert(compacted.read(spark).select("symbol", "bucket_ts", "open").collect().toSet == before)
    assert(!compacted.read(spark).columns.contains("ingest_batch"))
  }
}

class StreamingResumeSpec extends SparkSpec {
  test("checkpoint restart resumes without duplicating stored candles") {
    import graft.core.Timeframe
    import graft.streaming.StreamingIngest
    import org.apache.spark.sql.functions.col

    val tf = Timeframe.parse("1m")
    val srcDir = Files.createTempDirectory("graft_resume_src").toString
    val storeRoot = Files.createTempDirectory("graft_resume_store").toString
    val ckpt = Files.createTempDirectory("graft_resume_ckpt").toString
    val store = new CandleStore(storeRoot)

    def writeBatch(name: String, rows: Seq[(String, java.sql.Timestamp, Double, Double)]): Unit = {
      import spark.implicits._
      rows.toDF("symbol", "ts", "price", "qty").coalesce(1)
        .write.option("header", "true").mode("append").csv(srcDir)
    }

    // batch 1: one full window + a watermark-advancing later trade
    writeBatch("b1", Seq(
      ("BTC", ts(T0 + 10), 100.0, 1.0), ("BTC", ts(T0 + 20), 102.0, 1.0),
      ("BTC", ts(T0 + 600), 99.0, 1.0)))
    val trades = graft.sources.TradeSource.csvStream(spark, srcDir)
    val q1 = StreamingIngest.run(trades, tf, store, "binance",
      watermark = "5 seconds", checkpoint = Some(ckpt))
    q1.processAllAvailable(); q1.stop()
    val afterFirst = store.read(spark).count()
    assert(afterFirst == 1) // only the closed first window

    // restart from the same checkpoint with one more file: the first
    // window must NOT be re-emitted (offsets + state resume)
    writeBatch("b2", Seq(("BTC", ts(T0 + 1300), 98.0, 1.0)))
    val q2 = StreamingIngest.run(
      graft.sources.TradeSource.csvStream(spark, srcDir), tf, store, "binance",
      watermark = "5 seconds", checkpoint = Some(ckpt))
    q2.processAllAvailable(); q2.stop()

    val rows = store.read(spark).select("bucket_ts").collect().map(_.getTimestamp(0))
    assert(rows.length == 2, s"expected no duplicates, got ${rows.toSeq}")
    assert(rows.toSet == Set(ts(T0), ts(T0 + 600)))
  }
}

class StreamingAsofSpec extends SparkSpec {
  test("stream-stream asof joins out-of-order arrivals exactly once watermark passes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lefts = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val rights = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = graft.streaming.StreamingAsof.join(
      lefts.toDF.toDF("user_id", "ts", "event_id", "value"),
      rights.toDF.toDF("user_id", "ts", "value"),
      watermark = "5 seconds")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("asof_out").start()
    try {
      // left arrives BEFORE its matching right (out of order across batches)
      lefts.addData((1L, ts(T0 + 100), 10L, 1.0))
      q.processAllAvailable()
      rights.addData((1L, ts(T0 + 50), 7.0), (1L, ts(T0 + 90), 8.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM asof_out").count() == 0) // not finalizable yet
      // advance BOTH watermarks past the left row
      lefts.addData((2L, ts(T0 + 900), 99L, 0.0))
      rights.addData((2L, ts(T0 + 900), 0.0))
      q.processAllAvailable()
      lefts.addData((2L, ts(T0 + 1800), 98L, 0.0))
      rights.addData((2L, ts(T0 + 1800), 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, r_value FROM asof_out WHERE user_id = 1")
        .as[(Long, Double)].collect().toSet
      // latest right at-or-before t+100 is (t+90, 8.0); exactly one emission
      assert(rows == Set((10L, 8.0)))
    } finally q.stop()
  }

  test("stream-stream left-outer asof emits proven no-matches with null rights") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lefts = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val rights = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = graft.streaming.StreamingAsof.joinLeftOuter(
      lefts.toDF.toDF("user_id", "ts", "event_id", "value"),
      rights.toDF.toDF("user_id", "ts", "value"),
      watermark = "5 seconds")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("asof_lo").start()
    try {
      // user 1: left with a prior right (matches); user 3: left with a
      // right only AFTER it (no as-of match → null-extended)
      rights.addData((1L, ts(T0 + 50), 7.0), (3L, ts(T0 + 500), 9.0))
      lefts.addData((1L, ts(T0 + 100), 10L, 1.0), (3L, ts(T0 + 100), 30L, 1.0))
      q.processAllAvailable()
      // advance both watermarks past the lefts
      lefts.addData((2L, ts(T0 + 1800), 99L, 0.0))
      rights.addData((2L, ts(T0 + 1800), 0.0))
      q.processAllAvailable()
      lefts.addData((2L, ts(T0 + 3600), 98L, 0.0))
      rights.addData((2L, ts(T0 + 3600), 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_id, r_value FROM asof_lo WHERE user_id IN (1, 3)")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      // matched left carries its right; unmatched left appears ONCE, null
      assert(rows == Set((10L, Some(7.0)), (30L, None)))
    } finally q.stop()
  }

  test("stream-stream asof resolves duplicate right timestamps deterministically") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lefts = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val rights = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = graft.streaming.StreamingAsof.join(
      lefts.toDF.toDF("user_id", "ts", "event_id", "value"),
      rights.toDF.toDF("user_id", "ts", "value"),
      watermark = "5 seconds")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("asof_tie").start()
    try {
      // two rights tied on ts, delivered in descending-value order
      rights.addData((1L, ts(T0 + 50), 30.0))
      rights.addData((1L, ts(T0 + 50), 10.0))
      lefts.addData((1L, ts(T0 + 100), 10L, 1.0))
      q.processAllAvailable()
      lefts.addData((2L, ts(T0 + 900), 99L, 0.0))
      rights.addData((2L, ts(T0 + 900), 0.0))
      q.processAllAvailable()
      lefts.addData((2L, ts(T0 + 1800), 98L, 0.0))
      rights.addData((2L, ts(T0 + 1800), 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, r_value FROM asof_tie WHERE user_id = 1")
        .as[(Long, Double)].collect().toSet
      assert(rows == Set((10L, 30.0))) // greatest value wins the tie
    } finally q.stop()
  }

  test("stream-stream asof keeps the pre-watermark right representative for future lefts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lefts = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val rights = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = graft.streaming.StreamingAsof.join(
      lefts.toDF.toDF("user_id", "ts", "event_id", "value"),
      rights.toDF.toDF("user_id", "ts", "value"),
      watermark = "5 seconds")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("asof_rep").start()
    try {
      // right long ago; watermark advances far past it; THEN a left arrives
      rights.addData((1L, ts(T0 + 10), 5.0))
      lefts.addData((2L, ts(T0 + 2000), 99L, 0.0))
      rights.addData((2L, ts(T0 + 2000), 0.0))
      q.processAllAvailable()
      lefts.addData((1L, ts(T0 + 2100), 11L, 1.0)) // matches the old right
      lefts.addData((2L, ts(T0 + 4000), 98L, 0.0))
      rights.addData((2L, ts(T0 + 4000), 0.0))
      q.processAllAvailable()
      lefts.addData((2L, ts(T0 + 8000), 97L, 0.0))
      rights.addData((2L, ts(T0 + 8000), 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, r_value FROM asof_rep WHERE user_id = 1")
        .as[(Long, Double)].collect().toSet
      assert(rows == Set((11L, 5.0)))
    } finally q.stop()
  }
}

class MergeableIngestSpec extends SparkSpec {
  test("LSM ingest absorbs arbitrarily late trades exactly (merge-on-read == batch recompute)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tf = Timeframe.parse("1m")
    val root = Files.createTempDirectory("graft_lsm_store").toString
    val store = new CandleStore(root)
    val ms = MemoryStream[(String, java.sql.Timestamp, Double, Double)]
    val q = graft.streaming.StreamingIngest.runMergeable(
      ms.toDF.toDF("symbol", "ts", "price", "qty"), tf, store, "binance")
    val all = Seq(
      ("BTC", ts(T0 + 10), 100.0, 1.0), ("BTC", ts(T0 + 40), 104.0, 2.0),
      ("BTC", ts(T0 + 20), 90.0, 1.5), // LATE: same bucket, earlier ts, new low
      ("BTC", ts(T0 + 5), 101.0, 0.5), // LATE: becomes the true open
      ("ETH", ts(T0 + 30), 10.0, 3.0))
    try {
      ms.addData(all(0), all(1)); q.processAllAvailable()
      ms.addData(all(2)); q.processAllAvailable() // a watermark path would drop these
      ms.addData(all(3), all(4)); q.processAllAvailable()
    } finally q.stop()
    val streamed = store.readMerged(spark)
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .collect().map(_.toSeq).toSet
    val batch = Candles.fromTrades(
      all.toDF("symbol", "ts", "price", "qty"), tf)
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    val btc = store.readMerged(spark).where(col("symbol") === "BTC").head()
    assert(btc.getAs[Double]("open") == 101.0 && btc.getAs[Double]("low") == 90.0)
    // compaction folds partials: one row per bucket, same merged answer
    val dest = Files.createTempDirectory("graft_lsm_compact").toString
    val compacted = store.compactTo(spark, dest)
    assert(compacted.read(spark).count() ==
      compacted.read(spark).select("symbol", "bucket_ts").distinct().count())
    val after = compacted.readMerged(spark)
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .collect().map(_.toSeq).toSet
    assert(after == streamed)
  }
}

class StreamingNearDupSpec extends SparkSpec {
  test("near-duplicate documents arriving in later micro-batches are detected live") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val pairs = graft.streaming.StreamingNearDup.run(
      ms.toDF.toDF("doc_id", "ts", "text"), watermark = "5 seconds")
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    try {
      ms.addData(
        (1L, ts(T0 + 10), base),
        (2L, ts(T0 + 20), "completely different words about spark catalyst plans"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM neardup_out").count() == 0) // nothing seen twice
      // a near-duplicate of doc 1 arrives a batch later
      ms.addData((3L, ts(T0 + 30), base + " extra"))
      q.processAllAvailable()
      val found = spark.sql(
        "SELECT DISTINCT id1, id2 FROM neardup_out WHERE est_jaccard > 0.5")
        .as[(Long, Long)].collect().toSet
      assert(found == Set((1L, 3L)))
      // the unrelated doc never pairs
      assert(spark.sql("SELECT * FROM neardup_out WHERE id1 = 2 OR id2 = 2").count() == 0)
    } finally q.stop()
  }

  test("full buckets pair newcomers against hash-sampled reps, JVM hash == column hash") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    // same text -> same signature -> one bucket per band; maxBucket=2,
    // numReps=1: doc 3 arrives into full buckets and pairs ONLY against
    // the single smallest-hash retained member (in every band)
    val colHash = Seq(1L, 2L, 3L).toDF("id")
      .select(col("id"), graft.ops.Dedup.hash32(col("id").cast("string")).as("h"))
      .as[(Long, Long)].collect().toMap
    // the JVM-side sampling hash is value-identical to the column hash
    colHash.foreach { case (id, h) =>
      assert(graft.streaming.StreamingNearDup.h32(id) == h,
        s"JVM/column hash split for id $id")
    }
    val byHash = Seq(1L, 2L).sortBy(id => (colHash(id), id))
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val pairs = graft.streaming.StreamingNearDup.run(
      ms.toDF.toDF("doc_id", "ts", "text"),
      maxBucket = 2, numReps = 1, watermark = "5 seconds")
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("neardup_cap_out").start()
    try {
      ms.addData((1L, ts(T0 + 10), base), (2L, ts(T0 + 20), base))
      q.processAllAvailable()
      ms.addData((3L, ts(T0 + 30), base))
      q.processAllAvailable()
      val withThree = spark.sql(
        "SELECT DISTINCT id1, id2 FROM neardup_cap_out WHERE id1 = 3 OR id2 = 3")
        .as[(Long, Long)].collect().toSet
      val rep = byHash.head
      assert(withThree == Set((math.min(rep, 3L), math.max(rep, 3L))),
        s"doc 3 must pair only with the hash-sampled rep $rep, got $withThree")
    } finally q.stop()
  }

  test("degenerate idle horizon (retention 0) never crashes timeout registration") {
    // with idleRetention 0, a bucket's raw timeout target maxTs + retention
    // can collide with the watermark (Spark rejects timeouts <= watermark
    // with IllegalArgumentException); the operator clamps to watermark + 1.
    // Rows at/behind the watermark are dropped by the late filter and idle
    // buckets expire immediately, so the query must simply keep running —
    // empty output, no mid-batch throw, state cleanly timed out.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val pairs = graft.streaming.StreamingNearDup.run(
      ms.toDF.toDF("doc_id", "ts", "text"),
      watermark = "0 seconds", idleRetentionMs = 0L)
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("neardup_clamp_out").start()
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    try {
      ms.addData((1L, ts(T0 + 100), base))
      q.processAllAvailable() // watermark advances to T0 + 100
      // exactly-at-watermark (late-filter edge) then past-watermark after
      // the bucket expired: every batch must complete without throwing
      ms.addData((2L, ts(T0 + 100), base + " extra"))
      q.processAllAvailable()
      ms.addData((3L, ts(T0 + 101), base + " more"))
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      // doc 2 (exactly at the watermark) is late-filtered; doc 1's bucket
      // state survives its clamped timeout and doc 3 still pairs with it
      val found = spark.sql(
        "SELECT DISTINCT id1, id2 FROM neardup_clamp_out").as[(Long, Long)]
        .collect().toSet
      assert(found == Set((1L, 3L)))
    } finally q.stop()
  }
}

class StreamingIncrementalDedupSpec extends SparkSpec {
  test("streaming docs screen against a static corpus, statelessly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "completely different text about spark query engines and shuffles here"))
      .toDF("doc_id", "text")
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingIncrementalDedup.run(
      stream.toDF.toDF("doc_id", "ts", "text"), corpus)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("inc_dedup").start()
    try {
      stream.addData(
        (1L, ts(T0), "the quick brown fox jumps over the lazy dog again and again today"),
        (2L, ts(T0), "utterly novel content with no overlap whatsoever in any shingle window"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT DISTINCT doc_id, corpus_id, est_jaccard FROM inc_dedup")
        .as[(Long, Long, Double)].collect().toSet
      // the exact copy matches corpus doc 100 at est 1.0; doc 2 is novel
      assert(rows == Set((1L, 100L, 1.0)))
      // a later batch matches independently (stateless join)
      stream.addData((3L, ts(T0 + 100),
        "completely different text about spark query engines and shuffles here"))
      q.processAllAvailable()
      val rows2 = spark.sql(
        "SELECT DISTINCT doc_id, corpus_id FROM inc_dedup WHERE doc_id = 3")
        .as[(Long, Long)].collect().toSet
      assert(rows2 == Set((3L, 101L)))
    } finally q.stop()
  }
}

class StreamingBloomDedupSpec extends SparkSpec {
  test("streamed bloom screen equals the batch operator across batch splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = spark.read.parquet(s"$Sf0001/documents.parquet")
      .where(col("source") =!= "src0")
    val batchDocs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .where(col("source") === "src0")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingBloomDedup.run(
      stream.toDF.toDF("doc_id", "ts", "text"), corpus)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("bloom_out").start()
    try {
      // split the batch arbitrarily across micro-batches: verdicts are
      // per-doc pure functions of (content, snapshot) — stateless
      val (a, b) = batchDocs.splitAt(batchDocs.length / 3)
      stream.addData(a.map { case (id, t) => (id, ts(T0), t) }.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.map { case (id, t) => (id, ts(T0 + 60), t) }.toSeq: _*)
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      val live = spark.sql("SELECT doc_id, h, is_dup FROM bloom_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val ref = graft.ops.Dedup.bloomScreenDedup(
        spark.read.parquet(s"$Sf0001/documents.parquet")
          .where(col("source") === "src0"), corpus)
        .select(col("doc_id"), col("h"), col("is_dup"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(live == ref, "stream face diverged from the batch operator")
      // the no-false-negative law carries through the stream face
      assert(spark.sql(
        "SELECT count(*) FROM bloom_out WHERE is_dup AND NOT screened")
        .head().getLong(0) == 0L)
    } finally q.stop()
  }

  test("a planted corpus copy is flagged mid-stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingBloomDedup.run(
      stream.toDF.toDF("doc_id", "ts", "text"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("bloom_plant").start()
    try {
      stream.addData(
        (1L, ts(T0), "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, ts(T0), "genuinely novel content that matches nothing at all"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, is_dup FROM bloom_plant")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
      assert(rows == Set((1L, true), (2L, false)))
    } finally q.stop()
  }
}

class StreamingCorpusDiffSpec extends SparkSpec {
  test("streamed diff equals batch classification and the corpusDiff ledger") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = spark.read.parquet(s"$Sf0001/documents.parquet")
    // the corpus_diff replay convention: prior = even ids; today drops
    // %7==3 and re-renders %10==0
    val prior = d.where(col("doc_id") % 2 === 0)
    val todayRows = d.where(col("doc_id") % 7 =!= 3)
      .withColumn("text", when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)].collect()
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val q = graft.streaming.StreamingCorpusDiff.run(
        stream.toDF.toDF("doc_id", "ts", "source", "text"), prior)
      .writeStream.outputMode("append").format("memory")
      .queryName("diff_out").start()
    try {
      // arbitrary micro-batch split: verdicts are pure per-record
      val (a, b) = todayRows.splitAt(todayRows.length / 3)
      stream.addData(a.map { case (id, s, t) => (id, ts(T0), s, t) }.toSeq: _*)
      q.processAllAvailable()
      stream.addData(b.map { case (id, s, t) => (id, ts(T0 + 60), s, t) }.toSeq: _*)
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      val live = spark.sql("SELECT doc_id, status FROM diff_out")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // batch reference: the SAME classification run in batch mode
      val today = d.where(col("doc_id") % 7 =!= 3)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .withColumn("ts", lit(ts(T0)))
      val ref = graft.streaming.StreamingCorpusDiff.run(today, prior)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[String]("status"))).toSet
      assert(live == ref, "stream face diverged from batch classification")
      // and the per-(source, status) rollup is exactly the batch
      // corpusDiff ledger minus its removed rows (the documented closure
      // status no per-record stream can decide)
      val agg = spark.sql(
        "SELECT source, status, count(*) AS n FROM diff_out GROUP BY 1, 2")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val ledger = graft.ops.TextAnalysis.corpusDiff(prior, today)
        .where(col("status") =!= "removed")
        .collect().map(r => (r.getAs[String]("source"),
          r.getAs[String]("status")) -> r.getAs[Long]("n_docs")).toMap
      assert(agg == ledger, "stream rollup diverged from the batch ledger")
    } finally q.stop()
  }
}

class StreamingPatternsSpec extends SparkSpec {
  test("live pattern flags equal the batch operator over the same candles") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val data = Seq(
      ("BTC", ts(T0), 10.0, 10.5, 8.5, 9.0),
      ("BTC", ts(T0 + 3600), 8.9, 10.5, 8.5, 10.1),  // bullish engulfing
      ("ETH", ts(T0), 10.0, 11.0, 9.0, 10.01),       // doji
      ("ETH", ts(T0 + 3600), 10.0, 12.0, 9.9, 11.9))
    val ms = MemoryStream[(String, java.sql.Timestamp, Double, Double, Double, Double)]
    val q = graft.streaming.StreamingPatterns.run(
      ms.toDF.toDF("symbol", "bucket_ts", "open", "high", "low", "close"))
      .writeStream.outputMode("append").format("memory")
      .queryName("pat_out").start()
    try {
      // split across two batches to exercise the cross-batch prev state
      ms.addData(data.take(2).map { case (s, t, o, h, l, c) => (s, t, o, h, l, c) }: _*)
      q.processAllAvailable()
      ms.addData(data.drop(2).map { case (s, t, o, h, l, c) => (s, t, o, h, l, c) }: _*)
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("symbol", "bucket_ts", "doji", "bull_engulf", "bear_engulf")
          .collect().map(_.toSeq).toSet
      val live = canon(spark.sql("SELECT * FROM pat_out"))
      val batch = canon(graft.ohlcv.Analytics.candlePatterns(
        data.toDF("symbol", "ts", "open", "high", "low", "close")
          .withColumn("bucket_ts", col("ts")).drop("ts")))
      assert(live == batch)
      assert(live.size == 4)
    } finally q.stop()
  }
}

class StreamingGapDetectSpec extends SparkSpec {
  test("gaps emit live as candles arrive, matching the batch operator's shape") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, java.sql.Timestamp)]
    val q = graft.streaming.StreamingGapDetect.run(
      ms.toDF.toDF("symbol", "bucket_ts"), Timeframe.parse("1h"))
      .writeStream.outputMode("append").format("memory")
      .queryName("gap_out").start()
    try {
      // contiguous hours: no gap
      ms.addData(("BTC", ts(T0)), ("BTC", ts(T0 + 3600)))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM gap_out").count() == 0)
      // 3 missing hours, detected the moment the next candle lands;
      // gap crosses the batch boundary (state carries the last bucket)
      ms.addData(("BTC", ts(T0 + 5 * 3600)), ("ETH", ts(T0)))
      q.processAllAvailable()
      val gaps = spark.sql("SELECT symbol, gap_start, gap_end, missing FROM gap_out")
        .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      assert(gaps == Set(("BTC", ts(T0 + 3600), ts(T0 + 5 * 3600), 3L)))
      // batch semantics agree: run Candles.gaps over the same points
      val batch = graft.ohlcv.Candles.gaps(
        Seq(("BTC", ts(T0)), ("BTC", ts(T0 + 3600)), ("BTC", ts(T0 + 5 * 3600)),
          ("ETH", ts(T0))).toDF("symbol", "bucket_ts"), Timeframe.parse("1h"))
        .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      assert(batch == gaps)
    } finally q.stop()
  }
}

class StreamingAnomalySpec extends SparkSpec {
  test("candles score against prior running moments, exactly as the batch formula") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = graft.streaming.StreamingAnomaly.run(
      ms.toDF.toDF("symbol", "bucket_ts", "volume"), z = 2.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("anomaly_out").start()
    try {
      // priors 1,2 then 1.5 (scores z=0 against mean 1.5): nothing emits
      ms.addData(("BTC", ts(T0), 1.0), ("BTC", ts(T0 + 3600), 2.0),
        ("BTC", ts(T0 + 7200), 1.5))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM anomaly_out").count() == 0)
      // 10.0 against priors (1, 2, 1.5): mean 1.5, sample var 0.25 -> z = 17;
      // a second symbol's first candle has no priors and stays silent
      ms.addData(("BTC", ts(T0 + 10800), 10.0), ("ETH", ts(T0 + 10800), 999.0))
      q.processAllAvailable()
      val found = spark.sql("SELECT symbol, volume, zscore, n_prior FROM anomaly_out")
        .as[(String, Double, Double, Long)].collect().toSet
      assert(found == Set(("BTC", 10.0, 17.0, 3L)))
      // state carried across batches: next BTC candle scores against 4 priors
      // (1, 2, 1.5, 10): mean 3.625, var (107.25 - 4*3.625^2)/3
      ms.addData(("BTC", ts(T0 + 14400), 30.0))
      q.processAllAvailable()
      val z2 = spark.sql("SELECT zscore FROM anomaly_out WHERE volume = 30.0")
        .as[Double].collect()
      val mu = 3.625
      val variance = (107.25 - 4 * mu * mu) / 3
      val expected = BigDecimal((30.0 - mu) / math.sqrt(variance))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(z2.toSeq == Seq(expected))
    } finally q.stop()
  }
}

class StreamingIntervalSpec extends SparkSpec {
  test("forward interval join attributes rights inside the window, exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lefts = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val rights = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = graft.streaming.StreamingInterval.forward(
      lefts.toDF.toDF("user_id", "ts", "event_id", "value"),
      rights.toDF.toDF("user_id", "ts", "value"),
      windowMillis = 60000L, watermark = "5 seconds")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("iv_out").start()
    try {
      // click at t+10; purchases at t+30 (inside) and t+100 (outside 60s)
      lefts.addData((1L, ts(T0 + 10), 10L, 1.0))
      rights.addData((1L, ts(T0 + 30), 7.0), (1L, ts(T0 + 100), 9.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM iv_out").count() == 0) // window not closed
      // advance both watermarks far past t+70
      lefts.addData((2L, ts(T0 + 900), 99L, 0.0))
      rights.addData((2L, ts(T0 + 900), 0.0))
      q.processAllAvailable()
      lefts.addData((2L, ts(T0 + 1800), 98L, 0.0))
      rights.addData((2L, ts(T0 + 1800), 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, r_value FROM iv_out WHERE user_id = 1")
        .as[(Long, Double)].collect().toSet
      assert(rows == Set((10L, 7.0))) // only the in-window purchase, once
    } finally q.stop()
  }
}

class StreamingSessionizeSpec extends SparkSpec {
  test("flatMapGroupsWithState closes sessions on event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingSessionize

    val ms = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val events = ms.toDF.toDF("user_id", "ts", "event_id")
    val q = StreamingSessionize.byUser(events, gapMillis = 60000, watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      // user 7: two events 10s apart (one session)
      ms.addData((7L, ts(T0), 1L), (7L, ts(T0 + 10), 2L))
      q.processAllAvailable()
      // much later event: advances watermark far past session end + gap,
      // timing out and closing the first session
      ms.addData((7L, ts(T0 + 3600), 3L))
      q.processAllAvailable()
      ms.addData((7L, ts(T0 + 7200), 4L)) // close the second too
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sessions")
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(got.contains((7L, ts(T0), ts(T0 + 10), 2L)))
    assert(got.contains((7L, ts(T0 + 3600), ts(T0 + 3600), 1L)))
  }

  test("streaming sessions match the batch sessionizer on the same data") {
    import spark.implicits._
    val batch = graft.ops.Sessionize.byUser(
      Seq((7L, ts(T0), 1L), (7L, ts(T0 + 10), 2L), (7L, ts(T0 + 3600), 3L))
        .toDF("user_id", "ts", "event_id"), gapMicros = 60000000L)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    assert(batch == Set(
      Seq(7L, ts(T0), ts(T0 + 10), 2L),
      Seq(7L, ts(T0 + 3600), ts(T0 + 3600), 1L)))
  }
}

class StreamingDedupSpec extends SparkSpec {
  test("re-delivered trades within the watermark are dropped") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, java.sql.Timestamp, Double, Double)]
    val q = graft.streaming.StreamingDedup.dropDuplicateTrades(
      ms.toDF.toDF("symbol", "ts", "price", "qty"), "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      ms.addData(("BTC", ts(T0), 1.0, 1.0), ("BTC", ts(T0), 1.0, 1.0)) // dup in-batch
      q.processAllAvailable()
      ms.addData(("BTC", ts(T0), 1.0, 1.0), ("BTC", ts(T0 + 5), 2.0, 1.0)) // redelivery
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_out").collect()
    assert(rows.length == 2) // one (BTC, T0), one (BTC, T0+5)
  }
}

class MiscOpsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("salted join equals plain join") {
    val li = graft.core.Tables.table(spark, Sf0001, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = graft.core.Tables.table(spark, Sf0001, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(o, "l_orderkey")
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)"))).head().toSeq
    val salted = graft.operators.SaltedJoin.inner(li, o, "l_orderkey", 8)
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)"))).head().toSeq
    assert(salted == plain)
  }

  test("skew report sizes the salt factor from the measured hot key") {
    import spark.implicits._
    // one hot key (90 rows) + 10 uniform keys: n_keys=11, n_rows=100,
    // mean load 100/11 — hot skew_x = 90·11/100 = 9.9 → salt 10;
    // uniform skew_x = 11/100 = 0.11 → salt 1
    val df = ((1 to 90).map(_ => "hot") ++ (1 to 10).map(i => s"u$i"))
      .toDF("k")
    val out = graft.ops.Dq.skewReport(df, "k").collect()
    assert(out.length == 10) // top-10 of 11 keys
    val hot = out.find(_.getString(0) == "hot").get
    assert(hot.getLong(1) == 90L && hot.getLong(2) == 11L &&
      hot.getLong(3) == 100L && hot.getLong(4) == 90L)
    assert(hot.getAs[Double]("skew_x") == 9.9)
    assert(hot.getAs[Long]("salt_factor") == 10L)
    val uni = out.find(_.getString(0) == "u1").get
    assert(uni.getAs[Long]("salt_factor") == 1L)
  }

  test("profile produces one stats row per column in one pass") {
    val p = graft.ops.Profile.profile(
      graft.core.Tables.table(spark, Sf0001, "lineitem"))
    val rows = p.collect().map(r => r.getAs[String]("column") -> r).toMap
    assert(rows.size == 11)
    assert(rows("l_quantity").getAs[Double]("min_num") >= 0.0)
    assert(rows("l_returnflag").getAs[Long]("max_len") >= 1L)
    assert(rows.values.forall(_.getAs[Long]("n_null") == 0L))
    assert(rows.values.forall(_.getAs[Long]("n_rows") == 6000L))
  }

  test("profileAuto picks exact below the row threshold and HLL above") {
    val li = graft.core.Tables.table(spark, Sf0001, "lineitem") // 6000 rows
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    // at/below threshold → exact distinct (no HLL sketch in the plan)
    val exact = graft.ops.Profile.profileAuto(li, maxExactRows = 6000L)
    assert(!planOf(exact).contains("approx_count_distinct"), planOf(exact))
    // one row above the boundary → the HLL path
    val approx = graft.ops.Profile.profileAuto(li, maxExactRows = 5999L)
    assert(planOf(approx).contains("approx_count_distinct"), planOf(approx))
    // both modes agree on everything except the sketched counts, and the
    // sketch stays inside its 5σ contract at this cardinality
    val e = exact.collect().map(r => r.getAs[String]("column") ->
      r.getAs[Long]("n_distinct")).toMap
    val a = approx.collect().map(r => r.getAs[String]("column") ->
      r.getAs[Long]("n_distinct")).toMap
    assert(e.keySet == a.keySet)
    e.foreach { case (c, ex) =>
      assert(math.abs(a(c) - ex).toDouble <= math.max(5.0, 0.05 * ex),
        s"$c: exact=$ex approx=${a(c)}")
    }
  }

  test("typed candle Dataset round-trips") {
    val ds = graft.ohlcv.Candle.typed(
      graft.ohlcv.Candles.fromTrades(graft.core.Tables.trades(spark, Sf0001),
        graft.core.Timeframe.parse("1h")))
    val c = ds.filter(_.symbol == "click").collect()
    assert(c.nonEmpty && c.forall(x => x.high >= x.low && x.trades > 0))
  }
}

class EntrySmokeSpec extends SparkSpec {
  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows at sf0.001") {
    val failures = SparkEntry.queries.flatMap { q =>
      try { if (q.build(spark, Sf0001).count() > 0) None else Some(s"${q.name}: 0 rows") }
      catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("query names are unique and every query has a non-empty oracle") {
    val names = SparkEntry.queries.map(_.name)
    assert(names.size == 274 && names.distinct.size == names.size)
    assert(SparkEntry.queries.forall(_.oracleSql.nonEmpty))
  }
}

class StreamingTopKSpec extends SparkSpec {
  test("live leaderboards converge to the batch topVolume answer across batch splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = graft.streaming.StreamingTopK.run(
        ms.toDF.toDF("symbol", "bucket_ts", "volume"), n = 3)
      .writeStream.outputMode("update").format("memory")
      .queryName("topk_out").start()
    try {
      ms.addData(("BTC", ts(T0), 5.0), ("BTC", ts(T0 + 3600), 9.0),
        ("ETH", ts(T0), 2.0))
      q.processAllAvailable()
      // batch 1: BTC board = [9, 5]
      val b1 = spark.sql("SELECT volume FROM topk_out WHERE symbol = 'BTC'")
        .as[Double].collect().sorted.toSeq
      assert(b1 == Seq(5.0, 9.0))
      // batch 2: displaces BTC's 5.0; an unchanged board (ETH) emits nothing
      ms.addData(("BTC", ts(T0 + 7200), 7.0), ("BTC", ts(T0 + 10800), 8.0))
      q.processAllAvailable()
      val latestBtc = spark.sql(
        "SELECT volume, rn FROM topk_out").as[(Double, Long)].collect()
      assert(latestBtc.nonEmpty)
      // final state equals the batch operator over the full history
      val all = Seq(("BTC", ts(T0), 5.0), ("BTC", ts(T0 + 3600), 9.0),
        ("ETH", ts(T0), 2.0), ("BTC", ts(T0 + 7200), 7.0),
        ("BTC", ts(T0 + 10800), 8.0))
      val batch = graft.ohlcv.Analytics.topVolume(
          all.toDF("symbol", "bucket_ts", "volume"), 3)
        .select(col("symbol"), col("bucket_ts"), col("volume"), col("rn"))
        .as[(String, java.sql.Timestamp, Double, Long)].collect().toSet
      // reconstruct each symbol's LAST emitted board from the update log
      val ms2 = MemoryStream[(String, java.sql.Timestamp, Double)]
      val q2 = graft.streaming.StreamingTopK.run(
          ms2.toDF.toDF("symbol", "bucket_ts", "volume"), n = 3)
        .writeStream.outputMode("update").format("memory")
        .queryName("topk_out2").start()
      try {
        ms2.addData(all: _*)
        q2.processAllAvailable()
        val streamed = spark.sql(
          "SELECT symbol, bucket_ts, volume, rn FROM topk_out2")
          .as[(String, java.sql.Timestamp, Double, Long)].collect().toSet
        assert(streamed == batch)
      } finally q2.stop()
    } finally q.stop()
  }
}

class StreamingCusumSpec extends SparkSpec {
  test("live drift sums persist across batches and a level shift breaches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = graft.streaming.StreamingCusum.run(
        ms.toDF.toDF("symbol", "bucket_ts", "close"))
      .writeStream.outputMode("append").format("memory")
      .queryName("cusum_out").start()
    try {
      // flat-ish regime first (alternating closes -> nonzero variance)
      ms.addData((0 until 30).map(i =>
        ("X", ts(T0 + i * 3600), 100.0 + (i % 2))): _*)
      q.processAllAvailable()
      val calm = spark.sql("SELECT breach FROM cusum_out").as[Boolean].collect()
      assert(calm.nonEmpty && !calm.exists(identity))
      // sustained upward drift in a later batch: state carried over, breach
      ms.addData((30 until 60).map(i =>
        ("X", ts(T0 + i * 3600), 100.0 + (i - 29) * 3.0)): _*)
      q.processAllAvailable()
      val after = spark.sql(
        "SELECT cusum_pos, cusum_neg, breach FROM cusum_out")
        .as[(Double, Double, Boolean)].collect()
      assert(after.forall { case (sp, sn, _) => sp >= 0.0 && sn <= 0.0 })
      assert(after.exists(_._3), "drift should breach the positive fence")
    } finally q.stop()
  }
}

class StreamingHeavyHittersSpec extends SparkSpec {
  test("stream-merged sketch keeps the n/k guarantee across batch splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val k = 16
    val rnd = new scala.util.Random(7)
    val stream = (0 until 3000).map(_ => s"t${math.sqrt(rnd.nextInt(400)).toInt}")
    val ms = MemoryStream[String]
    val (q, tracker) = graft.streaming.StreamingHeavyHitters.run(
      ms.toDF.toDF("term"), k)
    try {
      // three uneven batch splits
      ms.addData(stream.slice(0, 500): _*); q.processAllAvailable()
      ms.addData(stream.slice(500, 2200): _*); q.processAllAvailable()
      ms.addData(stream.slice(2200, 3000): _*); q.processAllAvailable()
      val n = stream.length
      assert(tracker.n == n)
      val exact = stream.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
      val heavy = exact.filter(_._2 > n.toDouble / k)
      assert(heavy.nonEmpty)
      heavy.foreach { case (t, f) =>
        val est = tracker.sketch.get(t)
        assert(est.isDefined, s"lost heavy hitter $t ($f)")
        assert(est.get <= f && est.get >= f - n.toDouble / k,
          s"bounds violated for $t: est=${est.get} true=$f")
      }
    } finally q.stop()
  }

  test("tracker absorbs an at-least-once batch replay exactly once; snapshot seeding adds") {
    val tracker = new graft.streaming.StreamingHeavyHitters.Tracker(8)
    tracker.absorb(0L, Map("a" -> 10L, "b" -> 3L), 13L)
    val (sketch0, n0) = (tracker.sketch, tracker.n)
    // foreachBatch replay after a failure re-delivers the SAME batchId —
    // must be a no-op, preserving the whole-stream n/k guarantee
    tracker.absorb(0L, Map("a" -> 10L, "b" -> 3L), 13L)
    assert(tracker.sketch == sketch0 && tracker.n == n0)
    tracker.absorb(1L, Map("a" -> 2L), 2L)
    assert(tracker.sketch("a") == 12L && tracker.n == 15L)
    // recovery path: a persisted (sketch, n) snapshot merges in
    val seeded = new graft.streaming.StreamingHeavyHitters.Tracker(8)
    seeded.absorbSnapshot(tracker.sketch, tracker.n)
    seeded.absorb(0L, Map("c" -> 5L), 5L) // fresh query restarts batch ids
    assert(seeded.n == 20L && seeded.sketch("c") == 5L)
    // candidates: full sketch, estimate-desc then term
    assert(seeded.candidates == seeded.sketch.toSeq.sortBy { case (t, c) => (-c, t) })
  }
}

class StreamingAnnServeSpec extends SparkSpec {
  import graft.ops.Ivf

  private def embeddings = Tables.table(spark, Sf0001, "embeddings")

  /** The query vectors as exact doubles (the same cast the batch path
    * applies), so stream and batch score bit-identical inputs.
    */
  private def queryRows(n: Int): Seq[(Long, Seq[Double])] =
    embeddings.where(col("vec_id") < n)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  test("streamed queries against a PERSISTED IVF model equal batch searchTopKWith") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = embeddings
    // the cross-job serving contract: train once, persist, load in the
    // serving job
    val dir = Files.createTempDirectory("graft_ivf_model").toString
    Ivf.saveModel(spark, Ivf.Flat(Ivf.train(emb, k = 8, iters = 1)), dir)
    val model = Ivf.loadModel(spark, dir)

    val qs = queryRows(6)
    val batchTruth = Ivf.searchTopK(
      emb, model, emb.where(col("vec_id") < 6), 5, nprobe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet

    val stream = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Set[(Long, Long, Double, Long)]()
    val q = graft.streaming.StreamingAnnServe.serve(
      stream.toDF.toDF("vec_id", "embedding"), emb, model, k = 5, nprobe = 3) {
      (topk, _) =>
        got.synchronized {
          got ++= topk.as[(Long, Long, Double, Long)].collect()
        }
    }
    try {
      // two micro-batches: per-query top-k must not depend on batching
      stream.addData(qs.take(2): _*)
      q.processAllAvailable()
      stream.addData(qs.drop(2): _*)
      q.processAllAvailable()
      assert(got.toSet == batchTruth,
        "stream-served IVF top-k must equal the batch searchTopK answer")
    } finally q.stop()
  }

  test("candidates stream is stateless append: no state store nodes in the plan") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = embeddings
    val model = Ivf.Flat(Ivf.train(emb, k = 4, iters = 0))
    val stream = MemoryStream[(Long, Seq[Double])]
    val cand = graft.streaming.StreamingAnnServe.candidates(
      stream.toDF.toDF("vec_id", "embedding"), emb, model, nprobe = 2)
    val q = cand.writeStream.outputMode("append").format("memory")
      .queryName("ann_cand").start()
    try {
      stream.addData(queryRows(3): _*)
      q.processAllAvailable()
      val plan = q.lastProgress.sources
      assert(spark.sql("SELECT count(*) FROM ann_cand").head().getLong(0) > 0)
      // stateless contract: the progress report carries no state operators
      assert(q.lastProgress.stateOperators.isEmpty,
        "stream-static candidate generation must not create a state store")
      val _ = plan
    } finally q.stop()
  }

  test("streamed PQ serving against a pre-encoded corpus equals batch pqSearch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = embeddings
    // encode once per corpus snapshot; serve many
    val recon = Ivf.pqReconFrame(emb).cache()
    val batchTruth = Ivf.pqSearch(emb, emb.where(col("vec_id") < 4), 5)
      .as[(Long, Long, Double, Long)].collect().toSet

    val stream = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Set[(Long, Long, Double, Long)]()
    val q = graft.streaming.StreamingAnnServe.servePq(
      stream.toDF.toDF("vec_id", "embedding"), recon, k = 5) { (topk, _) =>
      got.synchronized { got ++= topk.as[(Long, Long, Double, Long)].collect() }
    }
    try {
      val qs = queryRows(4)
      stream.addData(qs.take(1): _*)
      q.processAllAvailable()
      stream.addData(qs.drop(1): _*)
      q.processAllAvailable()
      assert(got.toSet == batchTruth,
        "stream-served PQ top-k must equal the batch pqSearch answer")
    } finally { q.stop(); recon.unpersist() }
  }

  test("streamed FILTERED serving equals batch searchTopKFilteredWith incl. rescue") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = embeddings
    val model = Ivf.Flat(Ivf.train(emb, k = 16, iters = 0))
    val pred = col("label") === 7
    // k above the per-cell survivor density so SOME queries rescue
    val batchTruth = Ivf.searchTopKFiltered(
      emb, model, emb.where(col("vec_id") < 6), 10, pred, nprobe = 4)
      .as[(Long, Long, Double, Long)].collect().toSet

    val stream = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Set[(Long, Long, Double, Long)]()
    val q = graft.streaming.StreamingAnnServe.serveFiltered(
      stream.toDF.toDF("vec_id", "embedding"), emb, model, k = 10, pred,
      nprobe = 4) { (topk, _) =>
      got.synchronized { got ++= topk.as[(Long, Long, Double, Long)].collect() }
    }
    try {
      val qs = queryRows(6)
      stream.addData(qs.take(3): _*)
      q.processAllAvailable()
      stream.addData(qs.drop(3): _*)
      q.processAllAvailable()
      assert(got.toSet == batchTruth,
        "stream-served filtered top-k must equal the batch filtered answer")
      // the k-guarantee holds per arriving query
      assert(got.groupBy(_._1).values.forall(_.size == 10),
        "every streamed query must get exactly k filtered results")
    } finally { q.stop(); graft.core.Materialize.releaseAll(spark) }
  }

  test("streamed IVF-PQ serving: probed-cells-only ADC equals batch, stateless") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = embeddings
    // index once per corpus snapshot: coarse model + residual-encoded frame
    val model = Ivf.Flat(Ivf.train(emb, k = 8, iters = 1))
    val enc = Ivf.ivfPqReconFrame(emb, model).cache()
    val batchTruth = Ivf.ivfPqSearch(
      enc, model, emb.where(col("vec_id") < 5), 5, nprobe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet

    val stream = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Set[(Long, Long, Double, Long)]()
    val q = graft.streaming.StreamingAnnServe.serveIvfPq(
      stream.toDF.toDF("vec_id", "embedding"), enc, model, k = 5, nprobe = 3) {
      (topk, _) =>
        got.synchronized { got ++= topk.as[(Long, Long, Double, Long)].collect() }
    }
    try {
      val qs = queryRows(5)
      stream.addData(qs.take(2): _*)
      q.processAllAvailable()
      stream.addData(qs.drop(2): _*)
      q.processAllAvailable()
      assert(got.toSet == batchTruth,
        "stream-served IVF-PQ top-k must equal the batch ivfPqSearch answer")
      assert(q.lastProgress.stateOperators.isEmpty,
        "IVF-PQ serving must stay stateless")
    } finally { q.stop(); enc.unpersist() }
  }

  test("streamed two-level IVF-PQ serving: hierarchical probe equals batch, stateless") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = embeddings
    // index once per corpus snapshot: two-level model + residual frame
    // encoded against SUB-centroids (cid = global scid)
    val tl = Ivf.trainTwoLevel(emb, k1 = 3, k2 = 3, iters = 0)
    val enc = Ivf.ivfPqReconFrame(emb, tl).cache()
    val batchTruth = Ivf.ivfPqSearch(
      enc, tl, emb.where(col("vec_id") < 5), 5, nprobe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet

    val stream = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Set[(Long, Long, Double, Long)]()
    val q = graft.streaming.StreamingAnnServe.serveIvfPq(
      stream.toDF.toDF("vec_id", "embedding"), enc, tl, k = 5,
      nprobe = 3) { (topk, _) =>
      got.synchronized { got ++= topk.as[(Long, Long, Double, Long)].collect() }
    }
    try {
      val qs = queryRows(5)
      stream.addData(qs.take(2): _*)
      q.processAllAvailable()
      stream.addData(qs.drop(2): _*)
      q.processAllAvailable()
      assert(got.toSet == batchTruth,
        "stream-served two-level IVF-PQ top-k must equal the batch answer")
      assert(q.lastProgress.stateOperators.isEmpty,
        "two-level IVF-PQ serving must stay stateless")
    } finally { q.stop(); enc.unpersist(); graft.core.Materialize.releaseAll(spark) }
  }

  test("streamed IVF-PQ re-rank serving: exact-cosine stage equals batch, stateless") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = embeddings
    val model = Ivf.Flat(Ivf.train(emb, k = 8, iters = 1))
    val enc = Ivf.ivfPqReconFrame(emb, model).cache()
    val batchTruth = Ivf.ivfPqSearchRerank(
      enc, emb, model, emb.where(col("vec_id") < 5), 5, nprobe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet

    val stream = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Set[(Long, Long, Double, Long)]()
    val q = graft.streaming.StreamingAnnServe.serveIvfPqRerank(
      stream.toDF.toDF("vec_id", "embedding"), enc, emb, model,
      k = 5, nprobe = 3) { (topk, _) =>
      got.synchronized { got ++= topk.as[(Long, Long, Double, Long)].collect() }
    }
    try {
      val qs = queryRows(5)
      stream.addData(qs.take(2): _*)
      q.processAllAvailable()
      stream.addData(qs.drop(2): _*)
      q.processAllAvailable()
      assert(got.toSet == batchTruth,
        "stream-served re-ranked top-k must equal the batch ivfPqSearchRerank answer")
      assert(q.lastProgress.stateOperators.isEmpty,
        "re-rank serving must stay stateless")
    } finally { q.stop(); enc.unpersist() }
  }
}

class StreamingBudgetSampleSpec extends SparkSpec {
  test("single-batch stream == batch budgetSample; splits conserve running totals") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsData = (1L to 40L).map(i =>
      (i, Seq.fill(3 + (i % 5).toInt)("w").mkString(" "), if (i % 3 == 0) "de" else "en"))
    val batchTruth = graft.ops.TextAnalysis.budgetSample(
      docsData.toDF("doc_id", "text", "lang"), budget = 60).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet

    def serve(chunks: Seq[Seq[(Long, String, String)]]): Set[(Long, String, Long, Long, Boolean)] = {
      val stream = MemoryStream[(Long, String, String)]
      val got = scala.collection.mutable.Set[(Long, String, Long, Long, Boolean)]()
      val q = graft.streaming.StreamingBudgetSample.run(
        stream.toDF.toDF("doc_id", "text", "lang"), budget = 60)
        .writeStream.outputMode("append").format("memory")
        .queryName("budget_adm").start()
      try {
        chunks.foreach { c => stream.addData(c: _*); q.processAllAvailable() }
        got ++= spark.sql("SELECT * FROM budget_adm")
          .as[(Long, String, Long, Long, Boolean)].collect()
      } finally { q.stop(); spark.catalog.dropTempView("budget_adm") }
      got.toSet
    }

    // ONE micro-batch: the stream sorts by (hash, doc_id) like the batch
    // scan — outputs must be identical row-for-row
    assert(serve(Seq(docsData)) == batchTruth)

    // split arrival: per-language running totals carry across batches —
    // cum_before stays monotone in arrival order and sums conserve
    val split = serve(Seq(docsData.take(15), docsData.slice(15, 30), docsData.drop(30)))
    assert(split.map(r => (r._1, r._3)) == batchTruth.map(r => (r._1, r._3)))
    split.groupBy(_._2).foreach { case (lang, rs) =>
      // the carried state makes per-language positions one exact chain of
      // prefix sums: sorted by position, each doc starts where the
      // previous ended, from zero
      val chain = rs.toSeq.sortBy(_._4)
      assert(chain.head._4 == 0L, s"$lang chain must start at 0")
      chain.zip(chain.drop(1)).foreach { case (a, b) =>
        assert(b._4 == a._4 + a._3, s"$lang prefix chain broken at ${b._1}")
      }
      // keep is exactly "starts inside the budget" against the CARRIED total
      rs.foreach(r => assert(r._5 == (r._4 < 60)))
    }
  }
}

class StreamingDomainCapSpec extends SparkSpec {
  test("uncapped single batch == batch domainCapTokens; caps enforce across splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsData = (1L to 40L).map(i =>
      (i, Seq.fill(3 + (i % 5).toInt)("w").mkString(" "),
        if (i % 3 == 0) "srcA" else "srcB"))

    def serve(chunks: Seq[Seq[(Long, String, String)]], cap: Long,
              budget: Long): Set[(Long, String, Long, Long, Long, Boolean)] = {
      val stream = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingDomainCap.run(
        stream.toDF.toDF("doc_id", "text", "source"), cap, budget)
        .writeStream.outputMode("append").format("memory")
        .queryName("dom_adm").start()
      try {
        chunks.foreach { c => stream.addData(c: _*); q.processAllAvailable() }
        spark.sql("SELECT * FROM dom_adm")
          .as[(Long, String, Long, Long, Long, Boolean)].collect().toSet
      } finally { q.stop(); spark.catalog.dropTempView("dom_adm") }
    }

    // cap = infinity: the token flavor must equal batch domainCapTokens
    // row-for-row on a single batch (same (hash, doc_id) order)
    val batchTruth = graft.ops.TextAnalysis.domainCapTokens(
      docsData.toDF("doc_id", "text", "source"), budget = 60).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    val uncapped = serve(Seq(docsData), Long.MaxValue, 60L)
    assert(uncapped.map(r => (r._1, r._2, r._3, r._5, r._6)) == batchTruth,
      "uncapped stream must replay the batch token straddle rule")

    // doc cap enforced exactly, even when arrivals split across batches
    val capped = serve(
      Seq(docsData.take(15), docsData.slice(15, 30), docsData.drop(30)),
      cap = 5, budget = Long.MaxValue)
    val perSource = capped.groupBy(_._2)
    assert(perSource.keySet == Set("srcA", "srcB"))
    perSource.foreach { case (src, rs) =>
      assert(rs.count(_._6) == 5L, s"$src must admit exactly cap docs")
      // n_before counts only ADMITTED docs and never reaches cap on a keep
      rs.filter(_._6).foreach(r => assert(r._4 < 5L))
    }
  }
}

class StreamingMixMonitorSpec extends SparkSpec {
  test("live mix cells equal the batch rollup at stream end, across batch splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "web"),
      (2L, "uno dos", "es", "web"),
      (3L, "one two three four", "en", "books"),
      (4L, "cinco seis siete", "es", "web"),
      (5L, "five six", "en", "web"))
    val stream = MemoryStream[(Long, String, String, String)]
    val out = graft.streaming.StreamingMixMonitor.run(
      stream.toDF.toDF("doc_id", "text", "lang", "source"))
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("mix_mon").start()
    try {
      stream.addData(docs.take(2): _*)
      q.processAllAvailable()
      stream.addData(docs.drop(2): _*)
      q.processAllAvailable()
      // update mode re-emits refreshed cells: the LATEST row per cell is
      // the monitor's state
      val got = spark.sql(
        """SELECT lang, source, n_docs, total_tokens FROM (
          |  SELECT *, row_number() OVER (PARTITION BY lang, source
          |    ORDER BY n_docs DESC) AS rn FROM mix_mon) WHERE rn = 1""".stripMargin)
        .as[(String, String, Long, Long)].collect().toSet
      val expected = docs.groupBy(d => (d._3, d._4)).map { case ((l, s), ds) =>
        (l, s, ds.size.toLong, ds.map(_._2.split("\\s+").length.toLong).sum)
      }.toSet
      assert(got == expected,
        "stream-end mix cells must equal the batch rollup")
    } finally q.stop()
  }
}

class StreamingSemanticNearDupSpec extends SparkSpec {
  test("stream pair union == batch semanticNearDup across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val cents = graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, 8, iters = 0))
    val truth = graft.ops.Ivf.semanticNearDup(emb, cents, 0.4)
      .select(col("cid"), col("id1"), col("id2"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(truth.nonEmpty)
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, ts(T0 + id), v.map(_.toDouble)) }
    val stream = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    val pairs = graft.streaming.StreamingSemanticNearDup.run(
      stream.toDF.toDF("vec_id", "ts", "embedding"), cents,
      watermark = "1 hour")
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("sem_nd_out").start()
    try {
      // three micro-batches: pairs straddle every split
      rows.grouped((rows.length + 2) / 3).foreach { g =>
        stream.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.sql("SELECT cid, id1, id2, cos FROM sem_nd_out")
        .as[(Long, Long, Long, Double)].collect().toSet
      // union of emissions is EXACTLY the batch answer, cosines included
      assert(got == truth,
        s"stream/batch mismatch: stream-only=${(got -- truth).take(3)} " +
          s"batch-only=${(truth -- got).take(3)}")
    } finally q.stop()
  }

  test("two-level: stream pair union == batch semanticNearDupWithTwoLevel " +
    "across micro-batch splits") {
    // the two-level port (r13 verdict ask #7): state keyed by the global
    // sub-cell id, routed by the same L1-argmax → own-block L2-argmax
    // chain as the batch face — union of emissions must equal the batch
    // two-level pairs bit-for-bit, cosines included
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val m = graft.ops.Ivf.trainTwoLevel(emb, k1 = 3, k2 = 3, iters = 0)
    val truth = graft.ops.Ivf.semanticNearDup(emb, m, 0.4)
      .select(col("cid"), col("id1"), col("id2"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(truth.nonEmpty)
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, ts(T0 + id), v.map(_.toDouble)) }
    val stream = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    val pairs = graft.streaming.StreamingSemanticNearDup.run(
      stream.toDF.toDF("vec_id", "ts", "embedding"), m,
      watermark = "1 hour")
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("sem_nd2_out").start()
    try {
      rows.grouped((rows.length + 2) / 3).foreach { g =>
        stream.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.sql("SELECT cid, id1, id2, cos FROM sem_nd2_out")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == truth,
        s"stream/batch mismatch: stream-only=${(got -- truth).take(3)} " +
          s"batch-only=${(truth -- got).take(3)}")
    } finally q.stop()
  }

  test("cell cap: post-cap arrivals score against state but are not retained") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one cell (k=1); identical direction => cos 1.0 for every pair
    val cents = graft.ops.Ivf.Flat(Array(Array(1.0, 0.0)))
    val stream = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    val pairs = graft.streaming.StreamingSemanticNearDup.run(
      stream.toDF.toDF("vec_id", "ts", "embedding"), cents,
      maxCell = 2, watermark = "1 hour")
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("sem_nd_cap").start()
    try {
      val v = Seq(2.0, 0.0)
      stream.addData((1L, ts(T0 + 1), v), (2L, ts(T0 + 2), v))
      q.processAllAvailable()
      stream.addData((3L, ts(T0 + 3), v)) // cell full: scores, not retained
      q.processAllAvailable()
      stream.addData((4L, ts(T0 + 4), v)) // pairs with 1,2 only — never 3
      q.processAllAvailable()
      val got = spark.sql("SELECT id1, id2 FROM sem_nd_cap")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)))
    } finally q.stop()
  }
}

class StreamingSemanticScreenSpec extends SparkSpec {
  test("stream-static semantic screening: emissions == batch screen hits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.core.Tables.table(spark, Sf0001, "embeddings")
    val batchSide = emb.where(col("vec_id") % 10 === 0)
    val corpus = emb.where(col("vec_id") % 10 =!= 0)
    val cents = graft.ops.Ivf.train(corpus, 16, iters = 0)
    // batch truth: the same screen set, assign + join + rounded cosine
    val screen = graft.ops.Ivf.screenOnCells(graft.ops.Ivf.Flat(cents).cells(corpus), 64)
    val truth = graft.ops.Ivf.assign(
        batchSide.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")), cents)
      .select(col("cid").cast("long").as("cid"), col("vec_id"), col("v"))
      .join(screen, Seq("cid"))
      .select(col("vec_id"), col("cvid"),
        round(graft.functions.cosine_sim(col("v"), col("cv")), 6).as("cos"))
      .where(col("cos") >= 0.4)
      .as[(Long, Long, Double)].collect().toSet
    graft.core.Materialize.releaseAll(spark, blocking = true)
    assert(truth.nonEmpty)
    val rows = batchSide.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, ts(T0 + id), v.map(_.toDouble)) }
    val stream = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    val out = graft.streaming.StreamingSemanticScreen.run(
      stream.toDF.toDF("vec_id", "ts", "embedding"), corpus, graft.ops.Ivf.Flat(cents))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sem_screen_out").start()
    try {
      rows.grouped((rows.length + 1) / 2).foreach { g =>
        stream.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.sql("SELECT vec_id, corpus_id, cos FROM sem_screen_out")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == truth,
        s"stream/batch mismatch: stream-only=${(got -- truth).take(3)} " +
          s"batch-only=${(truth -- got).take(3)}")
      // stateless contract: no state operators in the streaming progress
      val progress = q.lastProgress
      assert(progress == null || progress.stateOperators.isEmpty)
    } finally q.stop()
  }
}

class StreamingDhashScreenSpec extends SparkSpec {
  test("stream-static perceptual screening: exactly-once hits, Hamming filter, stateless") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val all63 = (1L << 63) - 1
    val corpus = spark.createDataFrame(Seq(
      (10L, all63), (11L, 0L))).toDF("doc_id", "dhash")
    // arrival 1: all63 with bit 5 cleared -> Hamming 1 vs corpus 10,
    // sharing THREE chunks (1, 2, 3) — the emit-once guard must
    // collapse the three join hits to one row
    val near = all63 & ~(1L << 5)
    // arrival 2: five scattered set bits -> Hamming 5 vs corpus 11 (and
    // no shared chunk vs either corpus row) -> no emission
    val far = (1L << 0) | (1L << 20) | (1L << 40) | (1L << 50) | (1L << 60)
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = graft.streaming.StreamingDhashScreen.run(
      ms.toDF.toDF("doc_id", "ts", "dhash"), corpus)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dhash_screen").start()
    try {
      ms.addData((1L, ts(T0), near), (2L, ts(T0 + 1), far))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, corpus_id, hamming FROM dhash_screen")
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == Seq((1L, 10L, 1L)), s"exactly one hit expected: $got")
      // stateless contract: no state operators in the streaming progress
      val progress = q.lastProgress
      assert(progress.stateOperators.isEmpty,
        "the screen must run without a state store")
    } finally q.stop()
  }

  test("screen emissions match batch dhashNearDup pairs on a real-image corpus") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // stub-hash the document corpus, split stream/static — stream side
    // must surface exactly the batch near-dup pairs that cross the split.
    // The sf0.001 corpus carries no natural dhash dups (measured: zero
    // pairs), so plant three: corpus rows 90001-90003 reuse the hashes of
    // stream docs 0/10/20 (Hamming 0) and 90004 flips one bit of doc 30's
    // hash (Hamming 1) — non-empty truth, exercising both distances
    val real = graft.ops.Multimodal.imageDhashStub(
      graft.core.Tables.table(spark, Sf0001, "documents"))
    val planted = real.where(col("doc_id").isin(0L, 10L, 20L))
      .select((col("doc_id") / 10 + 90001L).cast("long").as("doc_id"),
        col("dhash"))
      .unionByName(real.where(col("doc_id") === 30L)
        .select(lit(90004L).as("doc_id"),
          col("dhash").bitwiseXOR(lit(1L << 17)).as("dhash")))
    val hashed = real.unionByName(planted)
    val streamSide = hashed.where(col("doc_id") % 10 === 0)
    val corpus = hashed.where(col("doc_id") % 10 =!= 0)
    val truth = graft.ops.Dedup
      .dhashNearDup(streamSide.unionByName(corpus))
      .as[(Long, Long, Long)].collect()
      .collect {
        case (a, b, h) if a % 10 == 0 && b % 10 != 0 => (a, b, h)
        case (a, b, h) if b % 10 == 0 && a % 10 != 0 => (b, a, h)
      }.toSet
    assert(truth.size >= 4, s"planted pairs must appear in the batch truth: $truth")
    graft.core.Materialize.releaseAll(spark, blocking = true)
    val rows = streamSide.as[(Long, Long)].collect()
      .map { case (id, h) => (id, ts(T0 + id), h) }
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = graft.streaming.StreamingDhashScreen.run(
      ms.toDF.toDF("doc_id", "ts", "dhash"), corpus)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dhash_screen_corpus").start()
    try {
      rows.grouped((rows.length + 1) / 2).foreach { g =>
        ms.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.sql(
        "SELECT doc_id, corpus_id, hamming FROM dhash_screen_corpus")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == truth,
        s"stream-only=${(got -- truth).take(3)} batch-only=${(truth -- got).take(3)}")
    } finally q.stop()
  }
}

class StreamingClassifierServeSpec extends SparkSpec {
  test("LogReg.score serves a stream unchanged: stateless, matches batch scoring") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.LogReg
    // train on the static corpus, then point the SAME score() at a
    // stream — the pure-column serving face needs no adaptation
    val docs = graft.core.Tables.table(spark, Sf0001, "documents")
    val label = col("text").contains("window")
    val seed = docs.where(label).orderBy("doc_id").limit(60)
      .unionByName(docs.where(!label).orderBy("doc_id").limit(60))
    val m = LogReg.train(seed, label, d = 256, epochs = 10)
    graft.core.Materialize.releaseAll(spark, blocking = true)
    val arrivals = docs.orderBy("doc_id").limit(50)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val expected = LogReg.score(
      arrivals.toSeq.toDF("doc_id", "text"), m)
      .as[(Long, Double, Boolean)].collect().toSet
    val ms = MemoryStream[(Long, String)]
    val q = LogReg.score(ms.toDF.toDF("doc_id", "text"), m)
      .writeStream.outputMode("append").format("memory")
      .queryName("clf_serve").start()
    try {
      arrivals.grouped(20).foreach { g =>
        ms.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.sql("SELECT doc_id, score, pred FROM clf_serve")
        .as[(Long, Double, Boolean)].collect().toSet
      assert(got == expected,
        s"stream-only=${(got -- expected).take(3)} batch-only=${(expected -- got).take(3)}")
      assert(q.lastProgress.stateOperators.isEmpty,
        "serving must run without a state store")
    } finally q.stop()
  }
}

class StreamingEditScreenSpec extends SparkSpec {
  test("stream-static fuzzy screening: exactly-once hits across shared " +
    "signatures, threshold filter, stateless") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dict = Seq((10L, "abcd"), (11L, "wxyz")).toDF("id", "s")
    // arrival 1: "abcd" is IDENTICAL to dict 10 — the pair shares all
    // FIVE deletion signatures, so the emit-once guard must collapse
    // five join hits to one row. arrival 2: "abed" is ED 1
    // (substitution, one shared signature). arrival 3: "abef" is ED 2
    // from "abcd" -> no emission at k=1.
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingEditScreen.run(
      ms.toDF.toDF("id", "ts", "s"), dict)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("edit_screen").start()
    try {
      ms.addData((1L, ts(T0), "abcd"), (2L, ts(T0 + 1), "abed"),
        (3L, ts(T0 + 2), "abef"),
        (4L, ts(T0 + 3), null)) // malformed feed row: drops, no crash
      q.processAllAvailable()
      val got = spark.sql("SELECT id, dict_id, dist FROM edit_screen")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(got == Seq((1L, 10L, 0L), (2L, 10L, 1L)),
        s"exactly one hit per matching arrival expected: $got")
      assert(q.lastProgress.stateOperators.isEmpty,
        "the screen must run without a state store")
    } finally q.stop()
  }

  test("screen emissions match batch editJoin pairs that cross a " +
    "stream/static split of the supplier names") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sup = graft.core.Tables.table(spark, Sf0001, "supplier")
      .selectExpr("s_suppkey AS id", "s_name AS s")
    val streamSide = sup.where(col("id") % 2 === 0)
    val dict = sup.where(col("id") % 2 =!= 0)
    val truth = graft.ops.Fuzzy.editJoin(sup, "id", "s")
      .as[(Long, Long, Long)].collect()
      .collect {
        case (a, b, d) if a % 2 == 0 && b % 2 != 0 => (a, b, d)
        case (a, b, d) if b % 2 == 0 && a % 2 != 0 => (b, a, d)
      }.toSet
    assert(truth.nonEmpty, "cross-split ED-1 pairs must exist")
    val rows = streamSide.as[(Long, String)].collect()
      .map { case (id, s) => (id, ts(T0 + id), s) }
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingEditScreen.run(
      ms.toDF.toDF("id", "ts", "s"), dict)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("edit_screen_sup").start()
    try {
      rows.grouped((rows.length + 1) / 2).foreach { g =>
        ms.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.sql("SELECT id, dict_id, dist FROM edit_screen_sup")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == truth,
        s"stream-only=${(got -- truth).take(3)} batch-only=${(truth -- got).take(3)}")
    } finally q.stop()
  }
}

class StreamingSpanScrubSpec extends SparkSpec {
  test("live span-scrub: dictionary span removed in-row, novel and " +
    "sub-w arrivals untouched, stateless and shuffle-free") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val span = (1 to 8).map(i => s"Q$i").mkString(" ")
    val dict = Seq((0L, s"$span plus dictionary context")).toDF("doc_id", "text")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingSpanScrub.run(
      ms.toDF.toDF("doc_id", "ts", "text"), dict)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("span_scrub").start()
    try {
      ms.addData(
        (1L, ts(T0), s"x y $span u v"),
        (2L, ts(T0 + 1), "entirely novel arrival text with no dictionary overlap"),
        (3L, ts(T0 + 2), "short one"),
        (4L, ts(T0 + 3), null)) // malformed feed row: survives as empty
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, n_words, n_removed, text FROM span_scrub")
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(got(0) == ((1L, 12L, 8L, "x y u v")), s"$got")
      assert(got(1)._3 == 0L && got(1)._4.startsWith("entirely novel"))
      assert(got(2) == ((3L, 2L, 0L, "short one")))
      assert(got(3) == ((4L, 0L, 0L, "")),
        "null text must emit the empty rewrite, not crash")
      assert(q.lastProgress.stateOperators.isEmpty,
        "the scrub must run without a state store")
    } finally q.stop()
  }

  test("streaming scrub equals batch spanScrub over the real corpus split") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = graft.core.Tables.table(spark, Sf0001, "documents")
    val truth = graft.ops.Dedup.spanScrub(docs, col("source") === "src0")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(truth.exists(_._3 > 0L), "some corpus doc must get scrubbed")
    graft.core.Materialize.releaseAll(spark, blocking = true)
    val rows = docs.where(col("source") =!= "src0")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => (id, ts(T0 + id), t) }
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingSpanScrub.run(
      ms.toDF.toDF("doc_id", "ts", "text"),
      docs.where(col("source") === "src0"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("span_scrub_corpus").start()
    try {
      rows.grouped((rows.length + 1) / 2).foreach { g =>
        ms.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.sql(
        "SELECT doc_id, n_words, n_removed, text FROM span_scrub_corpus")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(got == truth,
        s"stream-only=${(got -- truth).take(2)} batch-only=${(truth -- got).take(2)}")
    } finally q.stop()
  }
}

class StreamingHybridServeSpec extends SparkSpec {

  private def qdefs = Seq(
    (3L, Seq("spark", "join", "data")),
    (7L, Seq("data", "model")),
    (11L, Seq("the", "quick")))

  test("streamed hybrid queries fuse to the batch hybridRrfMulti answer " +
    "across micro-batches, stateless") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.table(spark, Sf0001, "documents")
    val emb = Tables.table(spark, Sf0001, "embeddings")
    val qframe = emb.join(qdefs.toDF("vec_id", "terms"), Seq("vec_id"))
      .select(col("vec_id"), col("terms"), col("embedding"))
    val truth = graft.ops.Retrieval.hybridRrfMulti(docs, emb, qframe)
      .collect().map(_.toString).toSet
    graft.core.Materialize.releaseAll(spark, blocking = true)
    val qrows = qframe
      .select(col("vec_id"), col("terms"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[String], Seq[Double])].collect().toSeq
    val ms = MemoryStream[(Long, Seq[String], Seq[Double])]
    val got = scala.collection.mutable.Set[String]()
    var sawState = false
    val q = graft.streaming.StreamingHybridServe.serve(
      ms.toDF.toDF("vec_id", "terms", "embedding"), docs, emb) { (topk, _) =>
      got.synchronized { got ++= topk.collect().map(_.toString) }
    }
    try {
      // two micro-batches: fusion must not depend on batching
      ms.addData(qrows.take(1): _*)
      q.processAllAvailable()
      ms.addData(qrows.drop(1): _*)
      q.processAllAvailable()
      sawState = q.lastProgress.stateOperators.nonEmpty
      assert(got.toSet == truth,
        s"stream-only=${(got.toSet -- truth).take(2)} " +
          s"batch-only=${(truth -- got).take(2)}")
      assert(!sawState, "hybrid serving must not create a state store")
    } finally q.stop()
  }

  test("persisted-IVF hybrid serving: save/load the model, all cells " +
    "probed equals the exact fusion") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ops.Ivf
    val docs = Tables.table(spark, Sf0001, "documents")
    val emb = Tables.table(spark, Sf0001, "embeddings")
    val qframe = emb.join(qdefs.toDF("vec_id", "terms"), Seq("vec_id"))
      .select(col("vec_id"), col("terms"), col("embedding"))
    val dir = Files.createTempDirectory("graft_hybrid_model").toString
    Ivf.saveModel(spark, Ivf.Flat(Ivf.train(emb, k = 8, iters = 1)), dir)
    val model = Ivf.loadModel(spark, dir)
    val exact = graft.ops.Retrieval.hybridRrfMulti(docs, emb, qframe)
      .collect().map(_.toString).toSet
    graft.core.Materialize.releaseAll(spark, blocking = true)
    val qrows = qframe
      .select(col("vec_id"), col("terms"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[String], Seq[Double])].collect().toSeq
    val ms = MemoryStream[(Long, Seq[String], Seq[Double])]
    val got = scala.collection.mutable.Set[String]()
    val q = graft.streaming.StreamingHybridServe.serveIvf(
      ms.toDF.toDF("vec_id", "terms", "embedding"), docs, emb, model,
      nprobe = 8) { (topk, _) =>
      got.synchronized { got ++= topk.collect().map(_.toString) }
    }
    try {
      ms.addData(qrows: _*)
      q.processAllAvailable()
      assert(got.toSet == exact,
        "all cells probed ⇒ the served fusion equals the exact fusion")
    } finally q.stop()
  }
}
