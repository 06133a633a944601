package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a k×-amplified copy of a testdata directory for the
  * FULL-REGISTRY verify at scale (r11 verdict ask #4): single-operator
  * ScaleProbe legs can't see cross-query interference — memory
  * pressure, Materialize registry churn, the no-release degradation
  * caveat — so the whole 267-query Verify + DuckDB check runs once over
  * this corpus.
  *
  * Growth model (how a fetcher's corpus actually grows, and chosen so
  * BOTH engines see deterministic data):
  *  - facts grow k×: orders/lineitem (keys offset per copy, dates
  *    shifted +90 days per copy — the time axis, so no cross-copy
  *    timestamp ties introduce order-ambiguous picks), events (ids and
  *    users offset, ts shifted), documents (ids offset, text word-salted
  *    per copy — the ScaleProbe convention: constant dup rate, pure size
  *    growth), embeddings (ids offset).
  *  - dimensions stay 1×: region/nation/customer/supplier/part — at
  *    100 TB the fact tables grow, the dimension tables don't (and the
  *    quadratic DuckDB verify oracles over dims stay dim-priced).
  *
  * The per-table growth is exposed as DataFrame functions, so ScaleProbe
  * legs amplify in memory with the same model.
  *
  * Run: `runMain graft.tools.AmplifyCorpus <srcDir> <dstDir> <k>`.
  */
object AmplifyCorpus {

  private def copies(k: Int)(one: Int => DataFrame): DataFrame =
    (0 until k).map(one).reduce(_ unionByName _)

  def orders(d: DataFrame, k: Int): DataFrame = copies(k) { i =>
    d.select(
      (col("o_orderkey") + lit(i * 10000000L)).as("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      (col("o_orderdate") + expr(s"INTERVAL ${i * 90} DAYS")).as("o_orderdate"),
      col("o_orderpriority"))
  }

  def lineitem(d: DataFrame, k: Int): DataFrame = copies(k) { i =>
    d.select(
      (col("l_orderkey") + lit(i * 10000000L)).as("l_orderkey"),
      col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      (col("l_shipdate") + expr(s"INTERVAL ${i * 90} DAYS")).as("l_shipdate"))
  }

  def events(d: DataFrame, k: Int): DataFrame = copies(k) { i =>
    d.select(
      (col("event_id") + lit(i * 1000000000L)).as("event_id"),
      (col("ts") + expr(s"INTERVAL ${i * 90} DAYS")).as("ts"),
      (col("user_id") + lit(i * 1000000L)).as("user_id"),
      col("event_type"), col("value"), col("props"))
  }

  /** Copy 0 keeps its text; every word of copy i > 0 is salted with `_i`,
    * so copies share no shingles: constant dup rate, pure size growth.
    */
  def documents(d: DataFrame, k: Int): DataFrame = copies(k) { i =>
    d.select(
      (col("doc_id") + lit(i * 1000000L)).as("doc_id"),
      (if (i == 0) col("text")
       else regexp_replace(col("text"), "(\\S+)", s"$$1_$i")).as("text"),
      col("lang"), col("source"), col("n_chars"))
  }

  def embeddings(d: DataFrame, k: Int): DataFrame = copies(k) { i =>
    d.select(
      (col("vec_id") + lit(i * 1000000L)).as("vec_id"),
      col("embedding"), col("label"))
  }

  private val facts: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
    "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings)

  def amplify(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => wr(rd(t), t))
    facts.foreach { case (t, grow) => wr(grow(rd(t), k), t) }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: AmplifyCorpus <srcDir> <dstDir> <k>")
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    amplify(spark, args(0), args(1), args(2).toInt)
    spark.stop()
  }
}
