package graft.ohlcv

import graft.core.Timeframe
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned candle store — the Spark-native equivalent of the
  * reference's per-(exchange, symbol, timeframe) SQLite files
  * (ccxt-ohlcv-fetch.py:134-138). Layout:
  *
  *   root/exchange=X/symbol=S/timeframe=T/part-....parquet
  *
  * Partition pruning turns "resume one symbol" (the reference's
  * `get_last_candle_timestamp`, :86-91) into a handful-of-files scan no
  * matter how big the store is; dynamic partition overwrite gives the
  * idempotent re-ingest the reference gets from its PK (:71-75).
  */
final class CandleStore(val root: String) {

  /** Append a batch of candles for one (exchange, timeframe). Dynamic
    * partition overwrite: re-writing an already-ingested window replaces
    * exactly the touched partitions — idempotent, no global rewrite.
    *
    * Each series is routed to one writer task (`CandleStore.bySeries`),
    * so it lands as one file; the writer stage keeps one task per core,
    * because per-file cost, not bytes, dominates it. Rows are sorted by
    * bucket_ts within each task before the write, so every parquet row
    * group covers a narrow time slice and its min/max statistics prune
    * time-range scans BELOW the partition level — partition pruning picks
    * the series directory, row-group stats skip most of the files inside
    * it.
    */
  def write(candles: DataFrame, exchange: String, tf: Timeframe): Unit =
    CandleStore.bySeries(candles
        .withColumn("exchange", lit(exchange))
        .withColumn("timeframe", lit(tf.toString)),
      Seq("symbol"), "bucket_ts")
      .write
      .partitionBy("exchange", "symbol", "timeframe")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd") // better ratio than snappy at archive scale
      .mode(SaveMode.Overwrite)
      .parquet(root)

  /** Partition-pruned read. Filters on partition columns never touch
    * non-matching files.
    */
  def read(spark: SparkSession, exchange: Option[String] = None,
           symbol: Option[String] = None, timeframe: Option[String] = None): DataFrame = {
    val loaded = spark.read.parquet(root)
    val base = // internal ingest bookkeeping never reaches readers
      if (loaded.columns.contains("ingest_batch")) loaded.drop("ingest_batch")
      else loaded
    Seq("exchange" -> exchange, "symbol" -> symbol, "timeframe" -> timeframe)
      .foldLeft(base) {
        case (df, (c, Some(v))) => df.where(col(c) === v)
        case (df, _) => df
      }
  }

  /** Resume point for one series (reference :275: resume from last candle). */
  def resumeSince(spark: SparkSession, exchange: String, symbol: String,
                  tf: Timeframe): Option[java.sql.Timestamp] = {
    val rows = read(spark, Some(exchange), Some(symbol), Some(tf.toString))
      .agg(max(col("bucket_ts"))).collect()
    rows.headOption.flatMap(r => Option(r.getTimestamp(0)))
  }

  /** Idempotent micro-batch append for streaming ingest. foreachBatch is
    * at-least-once: a crash between the data write and the checkpoint
    * commit re-runs the batch on restart. Each batch therefore lands in
    * its own `ingest_batch=<id>` partition via dynamic overwrite — a
    * replay of batch N rewrites exactly N's directories instead of
    * appending duplicates. The batch column is shed again by `read`.
    */
  def appendBatch(candles: DataFrame, exchange: String, tf: Timeframe,
                  batchId: Long): Unit =
    candles
      .withColumn("exchange", lit(exchange))
      .withColumn("timeframe", lit(tf.toString))
      .withColumn("ingest_batch", lit(batchId))
      .write
      .partitionBy("exchange", "symbol", "timeframe", "ingest_batch")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .mode(SaveMode.Overwrite)
      .parquet(root)

  /** Merge-on-read over a store of mergeable PARTIAL candles (see
    * StreamingIngest.runMergeable): folds all stored partials per
    * (symbol, bucket) into final candles. The LSM read path — writers
    * only ever append partials (idempotent, late-data-exact), readers
    * fold; compaction (`compactTo` + a mergePartials rewrite) bounds the
    * fold depth.
    */
  def readMerged(spark: SparkSession, exchange: Option[String] = None,
                 symbol: Option[String] = None, timeframe: Option[String] = None): DataFrame =
    Candles.mergePartials(read(spark, exchange, symbol, timeframe),
      Seq("exchange", "symbol", "timeframe", "bucket_ts"))
      .drop("first_ts", "last_ts")

  /** Compact the store into a new generation at `destRoot`: one file per
    * (exchange, symbol, timeframe) series, per-batch `ingest_batch`
    * bookkeeping collapsed away. Streaming ingest writes one directory per
    * micro-batch (the price of replay-safety), so a long-lived store
    * accretes small files; compaction jobs write a fresh generation and
    * the catalog/path pointer swaps atomically — the standard object-store
    * pattern (an in-place rewrite could never atomically drop the old
    * batch directories).
    */
  def compactTo(spark: SparkSession, destRoot: String): CandleStore = {
    val all = spark.read.parquet(root)
    val clean =
      if (all.columns.contains("ingest_batch")) all.drop("ingest_batch") else all
    // a mergeable-partial store (LSM ingest) folds its partials during
    // compaction, resetting merge-on-read fold depth to one row per bucket
    val folded =
      if (clean.columns.contains("first_ts"))
        Candles.mergePartials(clean,
          Seq("exchange", "symbol", "timeframe", "bucket_ts"))
      else clean
    // time-sorted row groups: stats prune range scans
    CandleStore.bySeries(folded, Seq("exchange", "symbol", "timeframe"), "bucket_ts")
      .write
      .partitionBy("exchange", "symbol", "timeframe")
      .option("compression", "zstd")
      .mode(SaveMode.Overwrite)
      .parquet(destRoot)
    new CandleStore(destRoot)
  }

  /** Register the candle set as a bucketed+sorted catalog table:
    * `bucketBy(symbol)` co-locates each symbol's candles, so symbol-keyed
    * joins and aggregations between bucketed tables run with NO shuffle
    * (spec asserts the plan is Exchange-free). At 100 TB, pre-bucketing
    * the store once amortizes every downstream symbol join.
    */
  def writeBucketedTable(candles: DataFrame, table: String, buckets: Int = 8,
                         sortCols: Seq[String] = Seq("symbol", "bucket_ts")): Unit =
    candles.write
      .bucketBy(buckets, "symbol")
      .sortBy(sortCols.head, sortCols.tail: _*)
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(table)

  /** CSV export of one series — the sqlite2csv.sh / README §"convert to
    * CSV" equivalent.
    */
  def exportCsv(spark: SparkSession, out: String, exchange: String,
                symbol: String, tf: Timeframe): Unit =
    read(spark, Some(exchange), Some(symbol), Some(tf.toString))
      .select(col("bucket_ts"), col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("trades"))
      .sort(col("bucket_ts"))
      .coalesce(1)
      .write.option("header", "true").mode(SaveMode.Overwrite).csv(out)
}

object CandleStore {

  /** Route each series (the `series` key) to exactly one task, rows sorted
    * by series then `time`, for writers that emit one file per series.
    * The explicit partition count (one per core) is what keeps the
    * fan-out: AQE coalesces a count-free `repartition` by bytes, which for
    * candle-sized data collapses every series onto ONE writer task.
    */
  private[graft] def bySeries(df: DataFrame, series: Seq[String], time: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, series.map(col): _*)
      .sortWithinPartitions((series :+ time).map(col): _*)
}
