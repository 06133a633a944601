package graft.ohlcv

import graft.core.Timeframe
import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Partitioned candle store — the Spark-native equivalent of the
  * reference's per-(exchange, symbol, timeframe) SQLite files
  * (ccxt-ohlcv-fetch.py:134-138). Layout:
  *
  *   root/exchange=X/symbol=S/timeframe=T/part-....parquet
  *
  * A read opens only the series it addresses, with a declared schema
  * taken from one parquet footer per series, so "resume one symbol" (the
  * reference's `get_last_candle_timestamp`, :86-91) lists and scans a
  * handful of files no matter how big the store is, and building the
  * DataFrame runs no Spark job. Dynamic partition overwrite gives the
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

  /** Partition-pruned read of the addressed series. Building the
    * DataFrame runs no Spark job: the series directories are listed on the
    * driver (`CandleStore.series`) and the schema is declared
    * (`CandleStore.schemaOf`), so Spark neither lists the whole store nor
    * runs its schema-inference job. Filters on partition columns still
    * apply, so the rows are exactly those of a root read plus the filters.
    *
    * When no series directory matches (missing root, empty store, unknown
    * key) the read falls back to discovering the root, which keeps that
    * case's exception or empty-frame schema.
    */
  def read(spark: SparkSession, exchange: Option[String] = None,
           symbol: Option[String] = None, timeframe: Option[String] = None): DataFrame = {
    val keys = Seq("exchange" -> exchange, "symbol" -> symbol, "timeframe" -> timeframe)
    val series = CandleStore.series(spark, root, keys)
    val loaded =
      if (series.isEmpty) spark.read.parquet(root)
      else spark.read.schema(CandleStore.schemaOf(spark, series))
        .option("basePath", root).parquet(series.map(_.dir.toString): _*)
    // internal ingest bookkeeping never reaches readers
    keys.foldLeft(loaded.drop("ingest_batch")) {
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
    * batch directories). The source is opened through `read`, so it sheds
    * `ingest_batch` there and lists no staging directory.
    */
  def compactTo(spark: SparkSession, destRoot: String): CandleStore = {
    val all = read(spark)
    // a mergeable-partial store (LSM ingest) folds its partials during
    // compaction, resetting merge-on-read fold depth to one row per bucket
    val folded =
      if (all.columns.contains("first_ts"))
        Candles.mergePartials(all, Seq("exchange", "symbol", "timeframe", "bucket_ts"))
      else all
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

  /** One series directory (`root/exchange=/symbol=/timeframe=`) with one
    * of its data files; `batched` when its files sit under
    * `ingest_batch=` directories.
    */
  private final case class Series(dir: Path, batched: Boolean, file: FileStatus)

  /** Children of `dir` that readers see: Spark's hidden `_`/`.` names, such
    * as `_SUCCESS`, checksums or a running write's `.spark-staging-*`, are
    * skipped.
    */
  private def visible(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }

  /** The series a read addresses, listed on the driver. A given key is one
    * child directory, its value escaped as the writer escapes it
    * (`BTC/USDT` -> `symbol=BTC%2FUSDT`); an absent key lists its level.
    * Series without a data file are left out.
    */
  private def series(spark: SparkSession, root: String,
                     keys: Seq[(String, Option[String])]): Seq[Series] = {
    val rootDir = new Path(root)
    val fs = rootDir.getFileSystem(spark.sessionState.newHadoopConf())
    def isDir(p: Path): Boolean =
      try fs.getFileStatus(p).isDirectory catch { case _: FileNotFoundException => false }
    val dirs = keys.foldLeft(Seq(rootDir).filter(isDir)) {
      case (level, (k, Some(v))) =>
        level.map(new Path(_, s"$k=${ExternalCatalogUtils.escapePathName(v)}")).filter(isDir)
      case (level, (_, None)) =>
        level.flatMap(visible(fs, _).filter(_.isDirectory).map(_.getPath))
    }
    dirs.flatMap { dir =>
      val kids = visible(fs, dir)
      val file = kids.find(_.isFile).orElse(kids.iterator.filter(_.isDirectory)
        .flatMap(b => visible(fs, b.getPath).find(_.isFile)).nextOption())
      file.map(Series(dir, kids.exists(_.isDirectory), _))
    }
  }

  /** The declared read schema of `series`: the data columns from one
    * parquet footer per series, then the partition columns as strings, and
    * `ingest_batch` as long when a series is batch-addressed. The data
    * columns come from Spark's own `org.apache.spark.sql.parquet.row.metadata`
    * footer key (a file without it converts its parquet schema), as Spark's
    * schema inference does, but on the driver with no job. Series whose
    * data columns differ (names and types, ignoring nullability) fail the
    * read rather than read as nulls.
    */
  private def schemaOf(spark: SparkSession, series: Seq[Series]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val footers = series.map { s =>
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(s.file, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      s.file.getPath -> ParquetFileFormat.readSchemaFromFooter(
        new Footer(s.file.getPath, meta), converter)
    }
    def columns(t: StructType) = t.fields.map(f => f.name -> f.dataType).toSet
    val (firstFile, data) = footers.head
    footers.tail.find { case (_, t) => columns(t) != columns(data) }.foreach {
      case (file, t) => throw new IllegalStateException(
        s"candle series differ in data schema: $firstFile has ${data.simpleString}, " +
          s"$file has ${t.simpleString}")
    }
    val partitions = Seq("exchange", "symbol", "timeframe").map(StructField(_, StringType)) ++
      (if (series.exists(_.batched)) Seq(StructField("ingest_batch", LongType)) else Nil)
    StructType(data.fields ++ partitions)
  }
}
