package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with scale-oriented defaults. On a real cluster the
  * same knobs apply; local[N] is only the test harness.
  */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // native expressions, the as-of planner strategy, and the
      // ASOF [LEFT] JOIN SQL syntax (parser + resolution rule)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Coalesce post-shuffle partitions by SIZE (advisory 64 MB), not to
      // the core count: with the default parallelismFirst=true AQE keeps
      // ~one partition per core even when the whole shuffle is a few KB,
      // so every tiny aggregation/join stage pays shuffle-partition-count
      // task launches (measured: 32-task stages over 2 000-row frames
      // throughout the vector family). Size-respecting coalescing is the
      // scale-adaptive choice — the same 64 MB target yields the right
      // partition widths at 100 TB (Spark's own docs recommend false for
      // production); shuffle.partitions stays the upper bound / skew
      // escape hatch. Writers are the exception: per-file cost, not
      // bytes, dominates them, so they route series with an explicit
      // partition count (CandleStore.bySeries), which AQE never coalesces.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // Cached frames are coalesced by size like any other shuffle (default
      // false: a cache keeps all shuffle.partitions outputs). Backfill's
      // cached 1m frame otherwise started every cascade op with 32 tiny
      // tasks (~0.5 s of wall per op over ~70k rows on a 4-core local[4]).
      // Spark ≥ 3.5.1 carries the SPARK-45592 fix for joins over such
      // caches; CachedCascadeSpec pins exactness.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read as Long and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // ObjectHashAggregate (every udaf aggregate: TopKByScore, the BM25
      // term heap, ...) falls back to SORT-BASED aggregation after this
      // many distinct keys in the in-memory map — the Spark default of
      // 128 means ANY per-entity top-k (kNN graph: one group per corpus
      // vector) abandons hash aggregation and SORTS its whole candidate
      // stream: measured 49 GB of spill on the ×243 knn_components
      // ScaleProbe leg, zero after raising it. Our aggregate buffers are
      // bounded (k-element heaps), so 256k keys is ~100 MB per task at
      // the worst — the right trade at any scale.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 18).toString)
      // The generated-class cache defaults to 100 entries — SMALLER than
      // one vector-family query's plan (a cold knn_components_2level
      // compiles ~99 codegen units), so even the immediate re-run of the
      // same query recompiles much of itself (measured: 42 compiles
      // ≈ 1 s on the back-to-back second draw). 4096 entries keep a full
      // session of distinct plan segments resident for megabytes of
      // driver metaspace — same reasoning at any scale (driver-only).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")

  /** The session the mains run: `local[n]` with one shuffle partition per
    * core, n = `SPARK_GRAFT_CPUS` (default 4), so the plans Verify checks
    * and the diagnostics inspect are the ones Bench times.
    */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    builder(s"local[$cpus]", cpus).getOrCreate()
  }
}

/** Canonical readers for the test star schema + the trade-stream mapping
  * described in SURVEY.md §1 (events ⇒ trades).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` with `ts` normalized to TimestampType, whatever flavor the
    * file carries. Seen in the wild across driver regenerations:
    *   - TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong` it
    *     arrives as Long nanos — integer `div 1000` truncates to micros
    *     exactly like DuckDB's read of the same file (no float division);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TimestampNTZType: the
    *     session runs in UTC, so cast to TimestampType is the identity on
    *     the underlying micros (wall time == instant);
    *   - TIMESTAMP(MICROS, UTC) → TimestampType: pass through.
    * Downstream bucketing (`unix_micros` in Timeframe/Sessionize/Events/
    * IntervalJoin/Candles/Analytics) requires TimestampType; this reader is
    * the single normalization boundary so those call sites stay simple.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  /** The reference's domain object is a trade/candle stream; `events` plays
    * that role: ts = trade time, event_type = symbol, value = price,
    * props.k = size (extracted by regex so the DuckDB oracle can mirror it
    * without a JSON extension).
    */
  def trades(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // malformed feed rows (null symbol/ts/price/size) drop at the ingest
    // boundary — the reference fetcher's skip-bad-row contract; a null
    // price reaching the typed per-symbol sweeps would crash them, and
    // null-keyed candles answer no query. No-op on well-formed feeds;
    // TradesSql mirrors the filter so the oracle replays it.
    events(spark, dir).select(
      col("event_type").as("symbol"),
      col("ts"),
      col("value").as("price"),
      regexp_extract(col("props"), "([0-9]+)", 1).cast("double").as("qty"))
      .where(col("symbol").isNotNull && col("ts").isNotNull &&
        col("price").isNotNull && col("qty").isNotNull)
  }
}
