package graft

import graft.core.{GraftSession, Tables, Timeframe}
import graft.ohlcv.{Candles, CandleStore}
import org.apache.spark.sql.SparkSession

/** CLI equivalent of the reference fetcher's workflow
  * (ccxt-ohlcv-fetch.py:304-309): ingest a trade batch, resample to the
  * requested timeframe, upsert into the partitioned store, report the
  * resume point, optionally export CSV.
  *
  * Usage: Ingest <tradesDir> <storeRoot> <exchange> <timeframe>
  *               [csvOut] [--since=2024-01-15T00:00:00Z] [--sqlite=DIR]
  *
  * `--since` mirrors the reference's flag (ccxt-ohlcv-fetch.py:193-195)
  * and resamples only trades at or after it. Without it, ingest resamples
  * the WHOLE tape; it does not start from the stored resume point, which
  * it only prints afterwards. Resuming from the store, as the reference
  * does by default (:274-285), is ROADMAP item 1.
  */
object Ingest {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length >= 4,
      "usage: Ingest <tradesDir> <storeRoot> <exchange> <timeframe> [csvOut] " +
        "[--since=ISO8601] [--sqlite=DIR]")
    val Array(tradesDir, storeRoot, exchange, tfStr) = pos.take(4)
    val tf = Timeframe.parse(tfStr)

    val store = new CandleStore(storeRoot)
    val since = flags.collectFirst { case f if f.startsWith("--since=") =>
      Timeframe.parseIso8601(f.stripPrefix("--since="))
    }
    val trades0 = Tables.trades(spark, tradesDir)
    val trades = since.fold(trades0)(s =>
      trades0.where(org.apache.spark.sql.functions.col("ts") >= s))
    // store write, symbol list, SQLite export and the closing count share
    // one resample of the tape
    val candles = Candles.fromTrades(trades, tf).cache()
    try {
      store.write(candles, exchange, tf)

      val symbols = candles.select("symbol").distinct()
        .collect().map(_.getString(0)).sorted
      symbols.foreach { sym =>
        val resume = store.resumeSince(spark, exchange, sym, tf)
        println(s"[ingest] $exchange/$sym/$tf resume_since=${resume.orNull}")
      }
      // a batch with no candles (e.g. --since past the last trade) has
      // nothing to export
      for (csvOut <- pos.lift(4); sym <- symbols.headOption) {
        store.exportCsv(spark, csvOut, exchange, sym, tf)
        println(s"[ingest] exported $sym -> $csvOut")
      }
      // --sqlite=DIR additionally emits the reference's literal per-series
      // .sqlite files (gen_db_name layout) for downstream sqlite tooling
      flags.collectFirst { case f if f.startsWith("--sqlite=") =>
        f.stripPrefix("--sqlite=")
      }.foreach { dir =>
        val files = graft.sinks.SqliteExport.export(candles, exchange, tf, dir)
        println(s"[ingest] sqlite export: ${files.length} series files under $dir")
      }
      println(s"[ingest] wrote ${candles.count()} candles for ${symbols.length} symbols")
    } finally candles.unpersist()
  }
}
