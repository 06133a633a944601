package graft.registry

import graft.core.{Tables, Timeframe}
import graft.ohlcv.{Analytics, Candles, Microstructure, Studies}
import graft.operators.AsofJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Query
import graft.SparkEntry._

/** Reference surface: OHLCV resample/ingest/gap/validation (SURVEY §2.A).
  *
  * Each `Query` holds a Spark build next to its DuckDB oracle;
  * `SparkEntry.queries` indexes the eight registries by name. Shared
  * oracle fragments stay in SparkEntry (imported above).
  */
private[graft] object OhlcvRegistry {

  val queries: Seq[Query] = Seq(
    // A. reference surface ---------------------------------------------------
    Query("ohlcv_1m", (s, dir) => Candles.fromTrades(Tables.trades(s, dir), Tf1m),
      withTrades(candlesSql(60000000L))),
    Query("ohlcv_5m", (s, dir) => Candles.fromTrades(Tables.trades(s, dir), Tf5m),
      withTrades(candlesSql(300000000L))),
    Query("ohlcv_1d", (s, dir) =>
      Candles.fromTrades(Tables.trades(s, dir), Timeframe.parse("1d")),
      withTrades(
        "SELECT symbol, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts, " +
          "min_by(price, ts) AS open, max(price) AS high, min(price) AS low, " +
          "max_by(price, ts) AS close, " +
          "CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS volume, " +
          "count(*) AS trades FROM t GROUP BY 1, 2")),
    Query("ohlcv_1M", (s, dir) =>
      Candles.fromTrades(Tables.trades(s, dir), Timeframe.parse("1M")),
      withTrades(
        "SELECT symbol, CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket_ts, " +
          "min_by(price, ts) AS open, max(price) AS high, min(price) AS low, " +
          "max_by(price, ts) AS close, " +
          "CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS volume, " +
          "count(*) AS trades FROM t GROUP BY 1, 2")),
    Query("resume_since", (s, dir) =>
      Candles.resumeSince(Candles.fromTrades(Tables.trades(s, dir), Tf1m)),
      withTrades(
        s"SELECT symbol, max(bucket_ts) AS last_ts FROM (${candlesSql(60000000L)}) GROUP BY 1")),
    Query("incremental_fetch", (s, dir) => {
      // fetch-loop predicate: recompute candles only from trades after each
      // symbol's resume point (here: 3 days before its last trade). The
      // per-symbol resume table is tiny ⇒ broadcast, no extra shuffle.
      val t = Tables.trades(s, dir)
      val resume = t.groupBy("symbol")
        .agg((max(unix_micros(col("ts"))) - lit(3L * 86400000000L)).as("since_us"))
      val fresh = t.join(broadcast(resume), Seq("symbol"))
        .where(unix_micros(col("ts")) > col("since_us"))
        .select("symbol", "ts", "price", "qty")
      Candles.fromTrades(fresh, Tf1h)
    },
      withTrades(
        ", resume AS (SELECT symbol, max(epoch_us(ts)) - 259200000000 AS since_us FROM t GROUP BY 1), " +
          "f AS (SELECT t.symbol, t.ts, t.price, t.qty FROM t JOIN resume r ON t.symbol = r.symbol " +
          "WHERE epoch_us(t.ts) > r.since_us) " +
          candlesSql(3600000000L, "f"))),
    Query("candle_upsert", (s, dir) => {
      // two overlapping ingest batches; later batch wins per (symbol,bucket)
      val t = Tables.trades(s, dir)
      val cut1 = to_timestamp(lit("2024-01-20 00:00:00"))
      val cut2 = to_timestamp(lit("2024-01-12 00:00:00"))
      val c1 = Candles.fromTrades(t.where(col("ts") < cut1), Tf1h)
      val c2 = Candles.fromTrades(t.where(col("ts") >= cut2), Tf1h)
      Candles.upsert(c1, c2)
    },
      withTrades(
        ", t1 AS (SELECT * FROM t WHERE ts < TIMESTAMP '2024-01-20 00:00:00'), " +
          "t2 AS (SELECT * FROM t WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'), " +
          s"c1 AS (${candlesSql(3600000000L, "t1")}), " +
          s"c2 AS (${candlesSql(3600000000L, "t2")}) " +
          "SELECT * FROM c2 UNION ALL " +
          "SELECT c1.* FROM c1 WHERE NOT EXISTS " +
          "(SELECT 1 FROM c2 WHERE c2.symbol = c1.symbol AND c2.bucket_ts = c1.bucket_ts)")),
    Query("incomplete_drop", (s, dir) => {
      val now = to_timestamp(lit("2024-01-30 23:00:00"))
      Candles.dropIncomplete(
        Candles.fromTrades(Tables.trades(s, dir), Tf1h), Tf1h, now)
    },
      withTrades(
        s"SELECT * FROM (${candlesSql(3600000000L)}) " +
          "WHERE make_timestamp(epoch_us(bucket_ts) + 3600000000) <= TIMESTAMP '2024-01-30 23:00:00'")),
    Query("gap_detect", (s, dir) =>
      Candles.gaps(Candles.fromTrades(Tables.trades(s, dir), Tf1h), Tf1h),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}) " +
          "SELECT symbol, bucket_ts AS gap_start, next_ts AS gap_end, " +
          "CAST((epoch_us(next_ts) - epoch_us(bucket_ts)) / 3600000000 - 1 AS BIGINT) AS missing " +
          "FROM (SELECT symbol, bucket_ts, lead(bucket_ts) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS next_ts FROM c) " +
          "WHERE next_ts IS NOT NULL AND epoch_us(next_ts) - epoch_us(bucket_ts) > 3600000000")),
    Query("ohlcv_1h_from_1m", (s, dir) =>
      // cascade resample: 1h candles from 1m candles, never re-reading trades
      Candles.resample(Candles.fromTrades(Tables.trades(s, dir), Tf1m), Tf1h),
      withTrades(
        s", c1 AS (${candlesSql(60000000L)}), " +
          "f AS (SELECT symbol, bucket_ts AS b, open, high, low, close, volume, trades FROM c1) " +
          "SELECT symbol, make_timestamp(epoch_us(b) - epoch_us(b) % 3600000000) AS bucket_ts, " +
          "min_by(open, b) AS open, max(high) AS high, min(low) AS low, max_by(close, b) AS close, " +
          "CAST(sum(CAST(volume AS DECIMAL(18,2))) AS DOUBLE) AS volume, " +
          "CAST(sum(trades) AS BIGINT) AS trades FROM f GROUP BY 1, 2")),
    Query("candle_validate", (s, dir) =>
      Analytics.validate(Candles.fromTrades(Tables.trades(s, dir), Tf1h), Tf1h.micros),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}) " +
          "SELECT symbol, count(*) AS n_candles, " +
          "CAST(sum(CASE WHEN high < low OR high < greatest(open, close) OR low > least(open, close) THEN 1 ELSE 0 END) AS BIGINT) AS n_ohlc_violations, " +
          "CAST(sum(CASE WHEN epoch_us(bucket_ts) % 3600000000 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_off_grid, " +
          "CAST(sum(CASE WHEN volume <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpos_volume, " +
          "CAST((max(epoch_us(bucket_ts)) - min(epoch_us(bucket_ts))) // 3600000000 + 1 - count(*) AS BIGINT) AS n_missing_buckets " +
          "FROM c GROUP BY 1")),
    Query("gap_fill", (s, dir) =>
      Analytics.gapFill(Candles.fromTrades(Tables.trades(s, dir), Tf1h), Tf1h.micros),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "sp AS (SELECT symbol, unnest(generate_series(lo, hi, INTERVAL 3600 SECOND)) AS bucket_ts " +
          "FROM (SELECT symbol, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM c GROUP BY 1)) " +
          "SELECT sp.symbol, sp.bucket_ts, " +
          "CAST(CASE WHEN c.close IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap, " +
          "last_value(c.close IGNORE NULLS) OVER (PARTITION BY sp.symbol ORDER BY sp.bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_filled " +
          "FROM sp LEFT JOIN c ON sp.symbol = c.symbol AND sp.bucket_ts = c.bucket_ts")),
    Query("gap_fill_linear", (s, dir) =>
      Analytics.gapFillLinear(Candles.fromTrades(Tables.trades(s, dir), Tf1h), Tf1h.micros),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "sp AS (SELECT symbol, unnest(generate_series(lo, hi, INTERVAL 3600 SECOND)) AS bucket_ts " +
          "FROM (SELECT symbol, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM c GROUP BY 1)), " +
          "j AS (SELECT sp.symbol, sp.bucket_ts, c.close FROM sp LEFT JOIN c ON sp.symbol = c.symbol AND sp.bucket_ts = c.bucket_ts), " +
          "f AS (SELECT symbol, bucket_ts, close, " +
          "last_value(close IGNORE NULLS) OVER wb AS prev_c, " +
          "last_value(CASE WHEN close IS NOT NULL THEN epoch_us(bucket_ts) END IGNORE NULLS) OVER wb AS prev_t, " +
          "first_value(close IGNORE NULLS) OVER wf AS next_c, " +
          "first_value(CASE WHEN close IS NOT NULL THEN epoch_us(bucket_ts) END IGNORE NULLS) OVER wf AS next_t " +
          "FROM j WINDOW " +
          "wb AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
          "wf AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
          "SELECT symbol, bucket_ts, CAST(CASE WHEN close IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap, " +
          "round(CASE WHEN close IS NOT NULL THEN close WHEN next_c IS NULL THEN prev_c WHEN prev_c IS NULL THEN next_c " +
          "ELSE prev_c + (next_c - prev_c) * (CAST(epoch_us(bucket_ts) - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE)) END, 6) AS close_interp FROM f")),
    Query("top_volume", (s, dir) =>
      Analytics.topVolume(Candles.fromTrades(Tables.trades(s, dir), Tf1h), 3),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}) " +
          "SELECT symbol, bucket_ts, volume, rn FROM (" +
          "SELECT symbol, bucket_ts, volume, " +
          "row_number() OVER (PARTITION BY symbol ORDER BY volume DESC, bucket_ts) AS rn FROM c) " +
          "WHERE rn <= 3")),
    Query("candle_stats", (s, dir) =>
      Analytics.stats(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}) " +
          "SELECT symbol, count(*) AS n_buckets, max(high) AS max_high, min(low) AS min_low, " +
          "CAST(sum(CAST(high - low AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_range, " +
          "CAST(sum(CAST(volume AS DECIMAL(18,2))) AS DOUBLE) AS total_volume " +
          "FROM c GROUP BY 1")),
    Query("volume_anomaly", (s, dir) =>
      Analytics.volumeAnomaly(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "st AS (SELECT symbol, count(*) AS n, " +
          "CAST(sum(CAST(volume AS DECIMAL(18,2))) AS DOUBLE) AS s1, " +
          "CAST(sum(CAST(volume AS DECIMAL(18,2)) * CAST(volume AS DECIMAL(18,2))) AS DOUBLE) AS s2 " +
          "FROM c GROUP BY 1), " +
          "j0 AS (SELECT c.symbol, c.bucket_ts, c.volume, st.n, st.s1 / st.n AS mu, st.s2 " +
          "FROM c JOIN st ON st.symbol = c.symbol), " +
          "j AS (SELECT symbol, bucket_ts, volume, mu, " +
          "(s2 - n * mu * mu) / (n - 1) AS variance FROM j0) " +
          "SELECT symbol, bucket_ts, volume, " +
          "round((volume - mu) / sqrt(variance), 6) AS zscore FROM j " +
          "WHERE variance > 0 AND abs(round((volume - mu) / sqrt(variance), 6)) >= 2.0")),
    Query("candle_patterns", (s, dir) =>
      Analytics.candlePatterns(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "p AS (SELECT symbol, bucket_ts, open, high, low, close, " +
          "lag(open) OVER w AS prev_open, lag(close) OVER w AS prev_close FROM c " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts)), " +
          "f AS (SELECT symbol, bucket_ts, open, high, low, close, " +
          "(high - low > 0 AND abs(close - open) <= 0.1 * (high - low)) AS doji, " +
          "(prev_close < prev_open AND close > open AND open <= prev_close AND close >= prev_open) AS bull_engulf, " +
          "(prev_close > prev_open AND close < open AND open >= prev_close AND close <= prev_open) AS bear_engulf FROM p) " +
          "SELECT symbol, bucket_ts, open, high, low, close, doji, bull_engulf, bear_engulf FROM f"))
  )
}
