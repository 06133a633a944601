package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources for the canonical trade stream (symbol, ts, price, qty) — the
  * shape the reference receives from an exchange API (JSON batches) or
  * replays from CSV exports. Explicit schemas: no sampling-based inference
  * job at scale, and malformed rows land in `_corrupt_record`-free strict
  * mode (PERMISSIVE nulls) rather than failing a 100 TB read.
  */
object TradeSource {

  // all nullable: file sources surface missing fields as nulls (PERMISSIVE)
  val schema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("price", DoubleType, nullable = true),
    StructField("qty", DoubleType, nullable = true)))

  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
      .csv(path)

  /** JSON-lines batches — the ccxt fetch_ohlcv response shape, one trade
    * per line.
    */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** Parquet tapes: columns beyond the canonical four are not read. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).parquet(path).select(schema.fieldNames.toIndexedSeq.map(col): _*)

  /** Streaming variants for the live tail. */
  def csvStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(schema).option("header", "true").csv(path)

  def jsonStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(schema).json(path)
}
