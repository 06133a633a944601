package graft.sinks

import graft.core.Timeframe
import graft.ohlcv.CandleStore
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's physical store surface: per-(exchange, symbol,
  * timeframe) SQLite database files (ccxt-ohlcv-fetch.py:134-138
  * `gen_db_name`, :263-271 engine setup, :35-47 the `candles` table with
  * `timestamp INTEGER PRIMARY KEY` and TEXT prices). A user migrating off
  * the reference keeps their downstream `.sqlite`-reading tooling: this
  * export writes real SQLite files (see SqliteFile) with the same table
  * schema and directory layout.
  *
  * Scale design: the export is a per-series fan-out — `CandleStore.bySeries`
  * routes each symbol's candles to one task, sorted within the partition
  * so rowids (timestamps) arrive ascending and the b-tree bulk-loads in
  * one pass. The fan-out keeps one task per core however small the data:
  * per-file cost, not bytes, dominates a writer, so the byte-sized AQE
  * coalescing that suits other shuffles would serialise every series
  * file onto one task. Each task writes only its own series' files;
  * on a cluster, point `rootDir` at a shared mount (each .sqlite file is
  * written by exactly one task — no coordination needed). A single series
  * must fit one task's memory — inherent to emitting a single SQLite file
  * per series, exactly the reference's own layout (one db per
  * exchange/symbol/timeframe run).
  */
object SqliteExport {

  /** Reference schema, ccxt-ohlcv-fetch.py:35-47 (prices are TEXT there
    * because ccxt hands back strings; kept for drop-in compatibility).
    */
  val CandlesCreateSql: String =
    "CREATE TABLE candles (timestamp INTEGER PRIMARY KEY, open TEXT, " +
      "high TEXT, low TEXT, close TEXT, volume TEXT)"

  /** `gen_db_name` (ccxt-ohlcv-fetch.py:134-138): symbol slashes dropped,
    * `ccxt/<exchange>/<sym>/<tf>/<exchange>_<sym>_<tf>.sqlite`.
    */
  def dbPath(exchange: String, symbol: String, timeframe: String): String = {
    val sym = symbol.replace("/", "")
    s"ccxt/$exchange/$sym/$timeframe/${exchange}_${sym}_${timeframe}.sqlite"
  }

  /** Export one exchange+timeframe's candles (the graft candle schema:
    * symbol, bucket_ts, open, high, low, close, volume) to per-symbol
    * SQLite files under `rootDir`. Returns the relative paths written.
    */
  def export(candles: DataFrame, exchange: String, tf: Timeframe,
             rootDir: String): Seq[String] = {
    val spark = candles.sparkSession
    import spark.implicits._
    val tfName = tf.toString
    val prepared = CandleStore.bySeries(candles.select(
        col("symbol"),
        unix_millis(col("bucket_ts")).as("ts_ms"),
        col("open").cast("string").as("o"),
        col("high").cast("string").as("h"),
        col("low").cast("string").as("l"),
        col("close").cast("string").as("c"),
        col("volume").cast("string").as("v")),
      Seq("symbol"), "ts_ms")
    prepared.mapPartitions { it =>
      val buffered = it.buffered
      val written = Seq.newBuilder[String]
      while (buffered.hasNext) {
        val symbol = buffered.head.getString(0)
        val rel = dbPath(exchange, symbol, tfName)
        val run = Iterator.unfold(()) { _ =>
          if (buffered.hasNext && buffered.head.getString(0) == symbol)
            Some((buffered.next(), ())) else None
        }
        SqliteFile.write(new java.io.File(rootDir, rel), "candles",
          CandlesCreateSql, run.map(rowToSqlite))
        written += rel
      }
      written.result().iterator
    }.collect().toSeq.sorted
  }

  /** Export ANY DataFrame to one real SQLite file: `rowidCol` (a unique
    * integer column) becomes the INTEGER PRIMARY KEY / rowid; remaining
    * columns map by Spark type (integers → INTEGER, floating → REAL,
    * strings → TEXT, binary → BLOB, booleans → 0/1, timestamps →
    * epoch-ms INTEGER). Arbitrarily long TEXT/BLOB values are fine — the
    * writer chains overflow pages.
    *
    * One SQLite file is inherently a single-writer artifact, so rows
    * stream to the driver partition-at-a-time (`toLocalIterator`) in
    * rowid order — memory-bounded, but wall-clock-bounded by one sink.
    * For parallel export, fan out per key with `export` instead.
    */
  def exportTable(df: DataFrame, tableName: String, rowidCol: String,
                  path: java.io.File): Long = {
    import org.apache.spark.sql.types._
    val others = df.schema.fields.filter(_.name != rowidCol)
    def sqlType(t: DataType): String = t match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
           _: BooleanType | _: TimestampType => "INTEGER"
      case _: DoubleType | _: FloatType => "REAL"
      case _: StringType => "TEXT"
      case _: BinaryType => "BLOB"
      case other => throw new IllegalArgumentException(
        s"no SQLite mapping for column type $other")
    }
    val createSql = s"CREATE TABLE $tableName ($rowidCol INTEGER PRIMARY KEY, " +
      others.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ") + ")"
    import SqliteFile._
    def toValue(r: Row, i: Int, t: org.apache.spark.sql.types.DataType): SqlValue =
      if (r.isNullAt(i)) SqlNull
      else t match {
        case _: LongType => SqlInt(r.getLong(i))
        case _: IntegerType => SqlInt(r.getInt(i).toLong)
        case _: ShortType => SqlInt(r.getShort(i).toLong)
        case _: ByteType => SqlInt(r.getByte(i).toLong)
        case _: BooleanType => SqlInt(if (r.getBoolean(i)) 1L else 0L)
        case _: TimestampType => SqlInt(r.getTimestamp(i).getTime)
        case _: DoubleType => SqlReal(r.getDouble(i))
        case _: FloatType => SqlReal(r.getFloat(i).toDouble)
        case _: StringType => SqlText(r.getString(i))
        case _: BinaryType => SqlBlob(r.getAs[Array[Byte]](i))
        case other => throw new IllegalArgumentException(other.toString)
      }
    val ordered = df.select(col(rowidCol).cast("long").as(rowidCol) +:
        others.toSeq.map(f => col(f.name)): _*)
      .orderBy(col(rowidCol))
    val it = ordered.toLocalIterator()
    val rows = Iterator.continually(()).takeWhile(_ => it.hasNext).map { _ =>
      val r = it.next()
      (r.getLong(0), SqliteFile.SqlNull +:
        others.toSeq.zipWithIndex.map { case (f, i) => toValue(r, i + 1, f.dataType) })
    }
    SqliteFile.write(path, tableName, createSql, rows)
  }

  private def rowToSqlite(r: Row): (Long, Seq[SqliteFile.SqlValue]) = {
    import SqliteFile._
    def txt(i: Int): SqlValue =
      if (r.isNullAt(i)) SqlNull else SqlText(r.getString(i))
    // timestamp INTEGER PRIMARY KEY aliases the rowid: stored as NULL in
    // the record, the key lives in the b-tree (format spec; matches what
    // SQLite itself writes for the reference's schema)
    (r.getLong(1), Seq(SqlNull, txt(2), txt(3), txt(4), txt(5), txt(6)))
  }
}

/** Generic JDBC candle sink/source — the `sqlalchemy.create_engine` lane
  * of the reference (ccxt-ohlcv-fetch.py:263-271) for warehouses reachable
  * over JDBC. `df.write.jdbc` opens one connection per partition and
  * batches inserts (`batchsize` option); `numPartitions` caps write
  * parallelism against small databases. With a SQLite JDBC driver on the
  * classpath the same call writes `jdbc:sqlite:<file>` URLs unchanged
  * (single-writer: coalesce(1) first); the container ships Derby, which
  * the spec uses for a real embedded roundtrip.
  */
object JdbcSink {

  /** Minimal DuckDB dialect: Spark 4.x's `tableExists` probe RETHROWS the
    * driver's SQLException unless the dialect classifies it as
    * object-not-found (`isObjectNotFoundException`; the default checks
    * SQLState codes, which DuckDB's JDBC driver does not set) — without
    * this, `SaveMode.Overwrite`/table creation against a fresh DuckDB
    * file fails on the probe instead of creating the table. Everything
    * else rides the default dialect (double-quote identifier quoting and
    * TEXT/BIGINT mappings are DuckDB-compatible).
    */
  private object DuckDbDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean =
      url.toLowerCase(java.util.Locale.ROOT).startsWith("jdbc:duckdb:")
    // Match ONLY DuckDB's missing-TABLE phrasing ("Catalog Error: Table
    // with name <t> does not exist"): a broad "does not exist" test would
    // also classify missing-column/schema errors during real queries as
    // object-not-found, which Spark's existence probe then swallows
    // silently instead of surfacing. Anything else rethrows (the default).
    private val TableMissing =
      java.util.regex.Pattern.compile("Table with name .* does not exist")
    override def isObjectNotFoundException(e: java.sql.SQLException): Boolean =
      e.getMessage != null && TableMissing.matcher(e.getMessage).find()
  }
  // registration is idempotent per JVM (the dialect registry is a list
  // probed newest-first; registering once at object init is enough)
  org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(DuckDbDialect)

  /** Write candles in the reference's table shape (epoch-ms INTEGER
    * timestamp + TEXT prices).
    */
  def writeCandles(candles: DataFrame, url: String, table: String = "candles",
                   properties: java.util.Properties = new java.util.Properties,
                   mode: SaveMode = SaveMode.Append): Unit =
    candles.select(
        unix_millis(col("bucket_ts")).as("timestamp"),
        col("open").cast("string").as("open"),
        col("high").cast("string").as("high"),
        col("low").cast("string").as("low"),
        col("close").cast("string").as("close"),
        col("volume").cast("string").as("volume"))
      .write.mode(mode).jdbc(url, table, properties)

  def readCandles(spark: SparkSession, url: String, table: String = "candles",
                  properties: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, properties)
}
