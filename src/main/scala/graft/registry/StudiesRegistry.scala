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

/** Market analytics over candles: indicators, microstructure, forecasting (SURVEY §2.B).
  *
  * Each `Query` holds a Spark build next to its DuckDB oracle;
  * `SparkEntry.queries` indexes the eight registries by name. Shared
  * oracle fragments stay in SparkEntry (imported above).
  */
private[graft] object StudiesRegistry {

  val queries: Seq[Query] = Seq(
    // B. market analytics ----------------------------------------------------
    Query("vwap", (s, dir) => Analytics.vwap(Tables.trades(s, dir)),
      withTrades(
        "SELECT symbol, day, sum_pv / sum_qty AS vwap, sum_qty FROM (" +
          "SELECT symbol, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
          "CAST(sum(CAST(price AS DECIMAL(18,2)) * CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_pv, " +
          "CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
          "FROM t GROUP BY 1, 2) WHERE sum_qty > 0")),
    Query("sma", (s, dir) =>
      Analytics.sma(Candles.fromTrades(Tables.trades(s, dir), Tf1h), 20),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}) " +
          "SELECT symbol, bucket_ts, close, " +
          "CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) AS sma " +
          "FROM c WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)")),
    Query("returns", (s, dir) =>
      Analytics.returns(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}) " +
          "SELECT symbol, bucket_ts, close, prev_close, (close - prev_close) / prev_close AS ret FROM (" +
          "SELECT symbol, bucket_ts, close, lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c) " +
          "WHERE prev_close IS NOT NULL")),
    Query("rolling_vol", (s, dir) =>
      Analytics.rollingVol(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r AS (SELECT symbol, bucket_ts, (close - prev_close) / prev_close AS ret FROM (" +
          "SELECT symbol, bucket_ts, close, lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c) " +
          "WHERE prev_close IS NOT NULL), " +
          "f AS (SELECT symbol, bucket_ts, " +
          "CAST(sum(CAST(ret AS DECIMAL(18,12))) OVER w AS DOUBLE) AS sum_r, " +
          "CAST(sum(CAST(CAST(ret AS DECIMAL(18,12)) * CAST(ret AS DECIMAL(18,12)) AS DECIMAL(38,24))) OVER w AS DOUBLE) AS sum_r2, " +
          "count(ret) OVER w AS cnt FROM r " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, " +
          "round(sqrt(greatest((sum_r2 - sum_r * sum_r / CAST(cnt AS DOUBLE)) / CAST(cnt - 1 AS DOUBLE), 0.0)), 6) AS vol " +
          "FROM f WHERE cnt = 24")),
    Query("return_moments", (s, dir) =>
      Analytics.returnMoments(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r0 AS (SELECT symbol, close, prev_close FROM (" +
          "SELECT symbol, close, lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c) " +
          "WHERE prev_close IS NOT NULL), " +
          "r AS (SELECT symbol, CAST(CASE WHEN close > 0 AND prev_close > 0 " +
          "THEN round(ln(close / prev_close), 6) END AS DECIMAL(9,6)) AS r FROM r0), " +
          "a AS (SELECT symbol, count(r) AS n, CAST(sum(r) AS DOUBLE) AS s1, " +
          "CAST(sum(CAST(r*r AS DECIMAL(18,12))) AS DOUBLE) AS s2, " +
          "CAST(sum(CAST(r*r*r AS DECIMAL(27,18))) AS DOUBLE) AS s3, " +
          "CAST(sum(CAST(r*r*r*r AS DECIMAL(36,24))) AS DOUBLE) AS s4 FROM r GROUP BY 1), " +
          "b AS (SELECT symbol, n, CAST(n AS DOUBLE) AS nd, s1, s2, s3, s4, " +
          "s1 / CAST(n AS DOUBLE) AS m FROM a), " +
          "d AS (SELECT *, s2 / nd - m * m AS v FROM b) " +
          "SELECT symbol, n, round(m, 6) AS mean_ret, round(sqrt(v), 6) AS stddev_ret, " +
          "round((s3 / nd - 3.0 * m * (s2 / nd) + 2.0 * m * m * m) / (sqrt(v) * v), 6) AS skew_ret, " +
          "round((s4 / nd - 4.0 * m * (s3 / nd) + 6.0 * m * m * (s2 / nd) - 3.0 * m * m * m * m) / (v * v) - 3.0, 6) AS kurtosis_ret " +
          "FROM d")),
    Query("mtf_context", (s, dir) => {
      // multi-timeframe context: each 1h candle enriched with its day's
      // OHLCV and the hour's position in the daily range. The daily frame
      // DERIVES from the hourly candles (candle aggregation is a monoid)
      // — one trades scan, one extra dim-scale agg, broadcast-size join
      // side at any corpus scale
      val h = graft.core.Materialize.once(
        Candles.fromTrades(Tables.trades(s, dir), Tf1h))
      val d = h.groupBy(col("symbol"), date_trunc("day", col("bucket_ts")).as("day"))
        .agg(min_by(col("open"), col("bucket_ts")).as("d_open"),
          max(col("high")).as("d_high"), min(col("low")).as("d_low"),
          max_by(col("close"), col("bucket_ts")).as("d_close"),
          sum(col("volume").cast(DecimalType(18, 2))).cast("double").as("d_volume"))
      h.withColumn("day", date_trunc("day", col("bucket_ts")))
        .join(d, Seq("symbol", "day"))
        .select(col("symbol"), col("bucket_ts"), col("close"),
          col("d_open"), col("d_high"), col("d_low"), col("d_close"), col("d_volume"),
          round((col("close") - col("d_low")) /
            when(col("d_high") =!= col("d_low"), col("d_high") - col("d_low")), 6)
            .as("day_range_pos"))
    },
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "d AS (SELECT symbol, CAST(date_trunc('day', bucket_ts) AS TIMESTAMP) AS day, " +
          "min_by(open, bucket_ts) AS d_open, max(high) AS d_high, min(low) AS d_low, " +
          "max_by(close, bucket_ts) AS d_close, " +
          "CAST(sum(CAST(volume AS DECIMAL(18,2))) AS DOUBLE) AS d_volume " +
          "FROM c GROUP BY 1, 2) " +
          "SELECT c.symbol, c.bucket_ts, c.close, d_open, d_high, d_low, d_close, d_volume, " +
          "round((c.close - d_low) / (CASE WHEN d_high <> d_low THEN d_high - d_low END), 6) AS day_range_pos " +
          "FROM c JOIN d ON c.symbol = d.symbol AND CAST(date_trunc('day', c.bucket_ts) AS TIMESTAMP) = d.day")),
    Query("ema", (s, dir) =>
      // rounded so the oracle's list_reduce (same op order) compares safely
      Analytics.ema(Candles.fromTrades(Tables.trades(s, dir), Tf1h), 20)
        .withColumn("ema", round(col("ema"), 6)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "l AS (SELECT symbol, bucket_ts, close, " +
          "list(close) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS closes FROM c) " +
          "SELECT symbol, bucket_ts, close, " +
          "round(list_reduce(closes, (acc, x) -> " +
          "(CAST(2 AS DOUBLE) / CAST(21 AS DOUBLE)) * x + " +
          "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / CAST(21 AS DOUBLE)) * acc), 6) AS ema FROM l")),
    Query("atr", (s, dir) =>
      Analytics.atr(Candles.fromTrades(Tables.trades(s, dir), Tf1h), 14),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "p AS (SELECT symbol, bucket_ts, high, low, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c), " +
          "d AS (SELECT symbol, bucket_ts, greatest(" +
          "CAST(high AS DECIMAL(18,2)) - CAST(low AS DECIMAL(18,2)), " +
          "abs(CAST(high AS DECIMAL(18,2)) - CAST(prev_close AS DECIMAL(18,2))), " +
          "abs(CAST(low AS DECIMAL(18,2)) - CAST(prev_close AS DECIMAL(18,2)))) AS tr " +
          "FROM p WHERE prev_close IS NOT NULL), " +
          "f AS (SELECT symbol, bucket_ts, CAST(tr AS DOUBLE) AS tr, " +
          "CAST(sum(tr) OVER w AS DOUBLE) AS sum_tr, count(*) OVER w AS cnt FROM d " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, tr, round(sum_tr / CAST(cnt AS DOUBLE), 6) AS atr FROM f WHERE cnt = 14")),
    Query("symbol_correlations", (s, dir) => {
      // pairwise return correlation across symbols via blockedPairJoin
      // (B derived from the symbol universe — see the helper's scaladoc).
      // The corr/count aggregate partial-aggregates map-side
      // (CentralMomentAgg is declarative), so the second shuffle carries
      // |pairs| partial rows, never the joined rows.
      //
      // the returns frame feeds both join sides: materialize it once so
      // the resample + lag window upstream runs a single time
      val r = graft.core.Materialize.once(
        Analytics.returns(Candles.fromTrades(Tables.trades(s, dir), Tf1h))
          .select(col("symbol"), col("bucket_ts"), col("ret")))
      blockedPairJoin(r)
        .groupBy(col("sym1"), col("sym2"))
        .agg(round(corr(col("ret1"), col("ret2")), 6).as("corr_ret"),
          count(lit(1)).as("n_overlap"))
    },
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r AS (SELECT symbol, bucket_ts, (close - prev_close) / prev_close AS ret FROM (" +
          "SELECT symbol, bucket_ts, close, lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c) " +
          "WHERE prev_close IS NOT NULL) " +
          "SELECT a.symbol AS sym1, b.symbol AS sym2, " +
          "round(corr(a.ret, b.ret), 6) AS corr_ret, count(*) AS n_overlap " +
          "FROM r a JOIN r b ON a.bucket_ts = b.bucket_ts AND a.symbol < b.symbol " +
          "GROUP BY 1, 2")),
    Query("lead_lag", (s, dir) =>
      // pairwise lead-lag cross-correlation at k in {-2..2}: one window
      // makes all shifted columns, one blocked pair join, one aggregation
      Studies.leadLag(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // lead-lag replay: same rounded returns, same one-window shift
      // columns, same five corr aggregates in one pass
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r0 AS (SELECT symbol, bucket_ts, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c), " +
          "r AS (SELECT symbol, bucket_ts, round((close - prev_close) / " +
          "(CASE WHEN prev_close <> 0 THEN prev_close END), 6) AS ret FROM r0 " +
          "WHERE prev_close IS NOT NULL AND prev_close <> 0), " +
          "rl AS (SELECT symbol, bucket_ts, ret, " +
          "lag(ret, 2) OVER w AS ret_m2, lag(ret, 1) OVER w AS ret_m1, " +
          "lead(ret, 1) OVER w AS ret_p1, lead(ret, 2) OVER w AS ret_p2 " +
          "FROM r WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts)) " +
          "SELECT a.symbol AS sym1, b.symbol AS sym2, count(*) AS n_overlap, " +
          "round(corr(a.ret, b.ret_m2), 6) AS corr_m2, " +
          "round(corr(a.ret, b.ret_m1), 6) AS corr_m1, " +
          "round(corr(a.ret, b.ret), 6) AS corr_0, " +
          "round(corr(a.ret, b.ret_p1), 6) AS corr_p1, " +
          "round(corr(a.ret, b.ret_p2), 6) AS corr_p2 " +
          "FROM r a JOIN rl b ON a.bucket_ts = b.bucket_ts AND a.symbol < b.symbol " +
          "GROUP BY 1, 2")),
    Query("pair_spread", (s, dir) =>
      // Engle-Granger first stage: per-pair OLS hedge ratio + residual
      // spread z-score; pair frame cut once, stats broadcast back
      Studies.pairSpread(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // pair-spread replay: exact-decimal OLS co-moments (width-19 casts
      // force DuckDB's INT128 multiplies), beta/spread/z in identical
      // double op order, guarded divisors
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "p0 AS (SELECT symbol, bucket_ts, CAST(close AS DECIMAL(18,2)) AS cl FROM c), " +
          "pr AS (SELECT a.symbol AS sym1, b.symbol AS sym2, a.bucket_ts, a.cl AS c1, b.cl AS c2 " +
          "FROM p0 a JOIN p0 b ON a.bucket_ts = b.bucket_ts AND a.symbol < b.symbol), " +
          "ols AS (SELECT sym1, sym2, count(*) AS n, CAST(sum(c1) AS DOUBLE) AS sy, " +
          "CAST(sum(c2) AS DOUBLE) AS sx, " +
          "CAST(sum(CAST(CAST(c2 AS DECIMAL(19,2)) * c2 AS DECIMAL(38,4))) AS DOUBLE) AS sxx, " +
          "CAST(sum(CAST(CAST(c2 AS DECIMAL(19,2)) * c1 AS DECIMAL(38,4))) AS DOUBLE) AS sxy " +
          "FROM pr GROUP BY 1, 2), " +
          "bt AS (SELECT sym1, sym2, (CAST(n AS DOUBLE) * sxy - sx * sy) / " +
          "(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0 THEN CAST(n AS DOUBLE) * sxx - sx * sx END) AS beta FROM ols), " +
          "sp AS (SELECT pr.sym1, pr.sym2, pr.bucket_ts, bt.beta, " +
          "round(CAST(pr.c1 AS DOUBLE) - bt.beta * CAST(pr.c2 AS DOUBLE), 6) AS spread " +
          "FROM pr JOIN bt ON pr.sym1 = bt.sym1 AND pr.sym2 = bt.sym2), " +
          "ss AS (SELECT sym1, sym2, count(spread) AS sn, " +
          "CAST(sum(CAST(spread AS DECIMAL(18,6))) AS DOUBLE) AS ss1, " +
          "CAST(sum(CAST(CAST(spread AS DECIMAL(19,6)) * CAST(spread AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS DOUBLE) AS ss2 " +
          "FROM sp GROUP BY 1, 2) " +
          "SELECT sp.sym1, sp.sym2, sp.bucket_ts, round(sp.beta, 6) AS beta, sp.spread, " +
          "round((sp.spread - ss1 / sn) / (CASE WHEN (CASE WHEN sn > 1 THEN " +
          "(ss2 - sn * (ss1 / sn) * (ss1 / sn)) / (sn - 1) END) > 0 THEN " +
          "sqrt((ss2 - sn * (ss1 / sn) * (ss1 / sn)) / (sn - 1)) END), 6) AS zscore " +
          "FROM sp JOIN ss ON sp.sym1 = ss.sym1 AND sp.sym2 = ss.sym2")),
    Query("rolling_corr", (s, dir) => {
      // 24-bucket rolling correlation per symbol pair: the same blocked
      // pair generation as symbol_correlations, then one bounded window
      // per pair (frame-ordered sequential aggregation — deterministic,
      // rounded for cross-engine stability). Full frames only.
      val r = graft.core.Materialize.once(
        Analytics.returns(Candles.fromTrades(Tables.trades(s, dir), Tf1h))
          .select(col("symbol"), col("bucket_ts"), col("ret")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("sym1"), col("sym2")).orderBy(col("bucket_ts"))
        .rowsBetween(-23, 0)
      blockedPairJoin(r)
        .withColumn("cnt", count(lit(1)).over(w))
        .withColumn("rolling_corr", round(corr(col("ret1"), col("ret2")).over(w), 6))
        .where(col("cnt") === 24)
        .select(col("sym1"), col("sym2"), col("bucket_ts"), col("rolling_corr"))
    },
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r AS (SELECT symbol, bucket_ts, (close - prev_close) / prev_close AS ret FROM (" +
          "SELECT symbol, bucket_ts, close, lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c) " +
          "WHERE prev_close IS NOT NULL), " +
          "p AS (SELECT a.symbol AS sym1, b.symbol AS sym2, a.bucket_ts, " +
          "a.ret AS ret1, b.ret AS ret2 " +
          "FROM r a JOIN r b ON a.bucket_ts = b.bucket_ts AND a.symbol < b.symbol), " +
          "f AS (SELECT sym1, sym2, bucket_ts, count(*) OVER w AS cnt, " +
          "round(corr(ret1, ret2) OVER w, 6) AS rolling_corr FROM p " +
          "WINDOW w AS (PARTITION BY sym1, sym2 ORDER BY bucket_ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) " +
          "SELECT sym1, sym2, bucket_ts, rolling_corr FROM f WHERE cnt = 24")),
    Query("heikin_ashi", (s, dir) =>
      Analytics.heikinAshi(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "w AS (SELECT symbol, bucket_ts, open, high, low, close, " +
          "(open + high + low + close) / 4.0 AS hac, " +
          "first_value(open) OVER ws AS fo, first_value(close) OVER ws AS fc, " +
          "list((open + high + low + close) / 4.0) OVER " +
          "(PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hcs " +
          "FROM c WINDOW ws AS (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
          "h AS (SELECT symbol, bucket_ts, high, low, hac, " +
          "list_reduce(list_prepend((fo + fc) / 2.0, coalesce(hcs, [])), " +
          "(acc, x) -> (acc + x) / 2.0) AS hao FROM w) " +
          "SELECT symbol, bucket_ts, round(hao, 6) AS ha_open, " +
          "round(greatest(high, greatest(hao, hac)), 6) AS ha_high, " +
          "round(least(low, least(hao, hac)), 6) AS ha_low, " +
          "round(hac, 6) AS ha_close FROM h")),
    Query("max_drawdown", (s, dir) =>
      Analytics.maxDrawdown(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "p AS (SELECT symbol, bucket_ts, close, " +
          "max(close) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM c), " +
          "d AS (SELECT symbol, round((close - peak) / peak, 6) AS drawdown, peak FROM p) " +
          "SELECT symbol, min(drawdown) AS max_drawdown, max(peak) AS peak_close " +
          "FROM d GROUP BY 1")),
    Query("drawdown_curve", (s, dir) =>
      Analytics.drawdownCurve(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}) " +
          "SELECT symbol, bucket_ts, close, max(close) OVER w AS peak, " +
          "round((close - max(close) OVER w) / (CASE WHEN max(close) OVER w <> 0 THEN max(close) OVER w END), 6) AS drawdown, " +
          "close < max(close) OVER w AS underwater FROM c " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")),
    Query("volume_profile", (s, dir) =>
      Analytics.volumeProfile(Tables.trades(s, dir)),
      withTrades(
        ", rng AS (SELECT symbol, min(price) AS lo, max(price) AS hi FROM t GROUP BY 1), " +
          "b AS (SELECT t.symbol, qty, CASE WHEN hi = lo THEN 0 " +
          "ELSE CAST(least(floor((price - lo) / ((hi - lo) / 20.0)), 19.0) AS BIGINT) END AS band " +
          "FROM t JOIN rng ON t.symbol = rng.symbol) " +
          "SELECT symbol, band, count(*) AS n_trades, " +
          "CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS volume " +
          "FROM b GROUP BY 1, 2")),
    Query("range_vol", (s, dir) =>
      // Parkinson + Garman–Klass range volatility per symbol: the
      // OHLC-native sigma estimates (5-7x more efficient than
      // close-to-close stddev); exact decimal partial sums
      Analytics.rangeVolatility(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // rangeVolatility replay: rounded log terms squared in exact
      // DECIMAL(18,12) sums; literal 4*ln2 / 2*ln2-1 constants so no
      // engine's libm ln(2) enters the compare
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "xy AS (SELECT symbol, " +
          "CAST(round(ln(high / low), 6) AS DECIMAL(9,6)) AS x, " +
          "CAST(round(ln(close / open), 6) AS DECIMAL(9,6)) AS y " +
          "FROM c WHERE high > 0 AND low > 0 AND close > 0 AND open > 0), " +
          "agg AS (SELECT symbol, count(*) AS n, " +
          "CAST(sum(CAST(x * x AS DECIMAL(18,12))) AS DOUBLE) AS sx2, " +
          "CAST(sum(CAST(y * y AS DECIMAL(18,12))) AS DOUBLE) AS sy2 " +
          "FROM xy GROUP BY 1) " +
          "SELECT symbol, n, " +
          "round(sqrt(sx2 / n / 2.772588722239781), 6) AS parkinson, " +
          "round(sqrt(greatest(0.5 * (sx2 / n) - 0.3862943611198906 * (sy2 / n), 0.0)), 6) AS garman_klass " +
          "FROM agg")),
    Query("tick_rule", (s, dir) =>
      // Lee-Ready tick-test trade classification -> hourly order-flow
      // imbalance: one per-symbol window shuffle reused by the bucket agg
      Microstructure.tickRuleImbalance(Tables.trades(s, dir), Tf1h.micros),
      // tick-rule replay: lag -> tick sign -> IGNORE NULLS carry-forward ->
      // bucketed exact-decimal volume sums; the imbalance ratio is one double
      // division on those exact sums
      withTrades(
        ", x AS (SELECT symbol, ts, price, qty, " +
          "lag(price) OVER (PARTITION BY symbol ORDER BY ts) AS pp FROM t), " +
          "y AS (SELECT symbol, ts, qty, CASE WHEN price > pp THEN 1 " +
          "WHEN price < pp THEN -1 END AS tick FROM x), " +
          "z AS (SELECT symbol, ts, qty, last_value(tick IGNORE NULLS) OVER (" +
          "PARTITION BY symbol ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS side FROM y), " +
          "g AS (SELECT symbol, make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bucket_ts, " +
          "CAST(sum(CASE WHEN side = 1 THEN CAST(qty AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS buy_qty, " +
          "CAST(sum(CASE WHEN side = -1 THEN CAST(qty AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sell_qty, " +
          "CAST(sum(CASE WHEN side IS NULL THEN CAST(qty AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS unclassified_qty, " +
          "count(*) AS n_trades FROM z GROUP BY 1, 2) " +
          "SELECT symbol, bucket_ts, buy_qty, sell_qty, unclassified_qty, n_trades, " +
          "round((buy_qty - sell_qty) / (CASE WHEN buy_qty + sell_qty <> 0 THEN buy_qty + sell_qty END), 6) AS imbalance FROM g")),
    Query("roll_spread", (s, dir) =>
      // Roll (1984) effective spread from close-change autocovariance:
      // exact decimal co-moment sums, clamped at 0 for trending samples
      Microstructure.rollSpread(
        Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Roll estimator replay: exact decimal close diffs, lag-1 co-moment via
      // exact partial sums, final cov/spread double in identical op order
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "p AS (SELECT symbol, bucket_ts, CAST(close AS DECIMAL(18,2)) - " +
          "CAST(lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS DECIMAL(18,2)) AS dp FROM c), " +
          "q AS (SELECT symbol, bucket_ts, dp, lag(dp) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS dp_prev FROM p), " +
          "f AS (SELECT symbol, dp, dp_prev FROM q WHERE dp IS NOT NULL AND dp_prev IS NOT NULL), " +
          "a AS (SELECT symbol, count(*) AS n, " +
          "CAST(sum(CAST(dp * dp_prev AS DECIMAL(38,4))) AS DOUBLE) AS sxy, " +
          "CAST(sum(dp) AS DOUBLE) AS sx, CAST(sum(dp_prev) AS DOUBLE) AS sy FROM f GROUP BY 1) " +
          "SELECT symbol, n, " +
          "round((sxy - sx * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS autocov_dp, " +
          "round(2.0 * sqrt(greatest(-((sxy - sx * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)), 0.0)), 6) AS roll_spread FROM a")),
    Query("amihud", (s, dir) =>
      // Amihud (2002) illiquidity: mean |ret| per dollar volume over daily
      // candles, x1e6; exact DECIMAL(28,12) partial sums
      Microstructure.amihud(
        Candles.fromTrades(Tables.trades(s, dir), Timeframe.parse("1d"))),
      // Amihud replay: daily candles, per-day |ret|/(close*volume)*1e6 rounded
      // to 12 and summed in exact DECIMAL(28,12)
      withTrades(
        s", c AS (${candlesSql(86400000000L)}), " +
          "p AS (SELECT symbol, bucket_ts, close, volume, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c), " +
          "f AS (SELECT symbol, (close - prev_close) / prev_close AS ret, close, volume FROM p " +
          "WHERE prev_close IS NOT NULL AND prev_close <> 0 AND volume > 0 AND close > 0), " +
          "x AS (SELECT symbol, CAST(round(abs(ret) / (close * volume) * 1000000.0, 12) AS DECIMAL(28,12)) AS t FROM f), " +
          "a AS (SELECT symbol, count(t) AS n_days, CAST(sum(t) AS DOUBLE) / CAST(count(t) AS DOUBLE) AS a FROM x GROUP BY 1) " +
          "SELECT symbol, n_days, round(a, 6) AS amihud FROM a")),
    Query("rolling_beta", (s, dir) =>
      // 24h trailing beta vs the equal-weight market return (dim-scale
      // aggregate broadcast back); full frames only
      Microstructure.rollingBeta(
        Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // rolling beta replay: equal-weight market return (exact decimal sum /
      // count) joined back, then the same 24-row covar_pop/var_pop window
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r0 AS (SELECT symbol, bucket_ts, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c), " +
          "r AS (SELECT symbol, bucket_ts, round((close - prev_close) / " +
          "(CASE WHEN prev_close <> 0 THEN prev_close END), 6) AS ret FROM r0 WHERE prev_close IS NOT NULL), " +
          "r2 AS (SELECT * FROM r WHERE ret IS NOT NULL), " +
          "m AS (SELECT bucket_ts, CAST(sum(CAST(ret AS DECIMAL(18,6))) AS DOUBLE) / " +
          "CAST(count(*) AS DOUBLE) AS mkt_ret FROM r2 GROUP BY 1), " +
          "j AS (SELECT r2.symbol, r2.bucket_ts, r2.ret, m.mkt_ret FROM r2 JOIN m ON r2.bucket_ts = m.bucket_ts), " +
          "wd AS (SELECT symbol, bucket_ts, count(*) OVER w AS cnt, " +
          "covar_pop(ret, mkt_ret) OVER w AS cov_rm, var_pop(mkt_ret) OVER w AS var_m FROM j " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, round(cov_rm / (CASE WHEN var_m <> 0 THEN var_m END), 6) AS beta " +
          "FROM wd WHERE cnt = 24")),
    Query("volume_bars", (s, dir) =>
      // Lopez de Prado volume clock: ~500-unit bars; one window shuffle,
      // the bar aggregation reuses the symbol partitioning
      Microstructure.volumeBars(Tables.trades(s, dir)),
      // volume-clock replay: exact BIGINT pre-trade cumulative, integer bar
      // division, the candle picks on the unique per-symbol ts
      withTrades(
        ", x AS (SELECT symbol, ts, price, qty, " +
          "COALESCE(CAST(sum(CAST(qty AS BIGINT)) OVER (PARTITION BY symbol ORDER BY ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_prev FROM t) " +
          "SELECT symbol, CAST(cum_prev // 500 AS BIGINT) AS bar_id, min(ts) AS start_ts, max(ts) AS end_ts, " +
          "min_by(price, ts) AS open, max(price) AS high, min(price) AS low, " +
          "max_by(price, ts) AS close, " +
          "CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS volume, " +
          "count(*) AS n_trades FROM x GROUP BY 1, 2")),
    Query("vpin", (s, dir) =>
      // flow toxicity: tick-rule signing x volume buckets in ONE pass;
      // partial final bucket dropped via a dim-scale broadcast screen
      Microstructure.vpin(Tables.trades(s, dir)),
      // VPIN replay: tick-rule signing + the volume-clock bucket id from the
      // SAME window chain, decimal bucket sums, the last (partial) bucket per
      // symbol dropped, per-bucket ratios averaged through DECIMAL(28,12)
      withTrades(
        ", x AS (SELECT symbol, ts, price, qty, " +
          "lag(price) OVER (PARTITION BY symbol ORDER BY ts) AS pp, " +
          "COALESCE(CAST(sum(CAST(qty AS BIGINT)) OVER (PARTITION BY symbol ORDER BY ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_prev FROM t), " +
          "y AS (SELECT symbol, ts, qty, cum_prev // 500 AS bar_id, " +
          "CASE WHEN price > pp THEN 1 WHEN price < pp THEN -1 END AS tick FROM x), " +
          "z AS (SELECT symbol, qty, bar_id, last_value(tick IGNORE NULLS) OVER (" +
          "PARTITION BY symbol ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS side FROM y), " +
          "g AS (SELECT symbol, bar_id, " +
          "sum(CASE WHEN side = 1 THEN CAST(qty AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS buy, " +
          "sum(CASE WHEN side = -1 THEN CAST(qty AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS sell, " +
          "sum(CAST(qty AS DECIMAL(18,2))) AS vol FROM z GROUP BY 1, 2), " +
          "lb AS (SELECT symbol, max(bar_id) AS last_bar FROM g GROUP BY 1), " +
          "u AS (SELECT g.symbol, CAST(round(abs(CAST(buy AS DOUBLE) - CAST(sell AS DOUBLE)) / " +
          "CAST(vol AS DOUBLE), 12) AS DECIMAL(28,12)) AS t " +
          "FROM g JOIN lb ON g.symbol = lb.symbol WHERE g.bar_id < lb.last_bar AND vol > 0) " +
          "SELECT symbol, count(t) AS n_buckets, " +
          "round(CAST(sum(t) AS DOUBLE) / CAST(count(t) AS DOUBLE), 6) AS vpin FROM u GROUP BY 1")),
    Query("risk_ratios", (s, dir) =>
      // per-bar Sharpe/Sortino/Calmar per symbol: one window shuffle +
      // one map-side-combined aggregation, exact-decimal co-moments
      Studies.riskRatios(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // risk-ratio replay: rounded returns into exact decimal co-moments,
      // running-peak drawdown as a rounded double MAX, fixed-order finals
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS pc, " +
          "max(close) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM c), " +
          "y AS (SELECT symbol, " +
          "round((peak - close) / (CASE WHEN peak <> 0 THEN peak END), 6) AS dd, " +
          "CASE WHEN pc IS NOT NULL AND pc <> 0 THEN CAST(round((close - pc) / pc, 6) AS DECIMAL(18,6)) END AS ret FROM x), " +
          "a AS (SELECT symbol, count(ret) AS n, CAST(sum(ret) AS DOUBLE) AS s1, " +
          "CAST(sum(CAST(CAST(ret AS DECIMAL(19,6)) * CAST(ret AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS s2, " +
          "CAST(sum(CASE WHEN ret < 0 THEN CAST(CAST(ret AS DECIMAL(19,6)) * CAST(ret AS DECIMAL(19,6)) AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) AS sd2, " +
          "max(dd) AS max_dd FROM y GROUP BY 1), " +
          "b AS (SELECT symbol, n, CAST(n AS DOUBLE) AS nd, s1, s2, sd2, max_dd FROM a WHERE n >= 2), " +
          "f AS (SELECT symbol, n, nd, s1 / nd AS mean, " +
          "(s2 - s1 * s1 / nd) / nd AS variance, sd2, max_dd FROM b) " +
          "SELECT symbol, n, round(mean, 6) AS mean_ret, " +
          "round(mean / (CASE WHEN variance > 0 THEN sqrt(variance) END), 6) AS sharpe, " +
          "round(mean / (CASE WHEN sd2 > 0 THEN sqrt(sd2 / nd) END), 6) AS sortino, " +
          "round(mean / (CASE WHEN max_dd > 0 THEN max_dd END), 6) AS calmar, max_dd FROM f")),
    Query("ulcer_index", (s, dir) =>
      // RMS percentage drawdown + Martin ratio: the duration-aware
      // drawdown statistic; same one-shuffle shape as risk_ratios
      Studies.ulcerIndex(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // ulcer replay: rounded drawdown-% squares in exact decimals, RMS and
      // Martin ratio in identical double op order
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS pc, " +
          "max(close) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM c), " +
          "y AS (SELECT symbol, CAST(round(100.0 * (peak - close) / " +
          "(CASE WHEN peak <> 0 THEN peak END), 6) AS DECIMAL(18,6)) AS dd, " +
          "CASE WHEN pc IS NOT NULL AND pc <> 0 THEN CAST(round((close - pc) / pc, 6) AS DECIMAL(18,6)) END AS ret FROM x), " +
          "a AS (SELECT symbol, count(*) AS n, " +
          "CAST(sum(CAST(dd * dd AS DECIMAL(38,12))) AS DOUBLE) AS sdd2, " +
          "CAST(sum(ret) AS DOUBLE) AS s1, count(ret) AS nr FROM y GROUP BY 1), " +
          "f AS (SELECT symbol, n, sqrt(sdd2 / CAST(n AS DOUBLE)) AS ui, s1, nr FROM a) " +
          "SELECT symbol, n, round(ui, 6) AS ulcer_index, " +
          "round((s1 / (CASE WHEN nr > 0 THEN CAST(nr AS DOUBLE) END)) / " +
          "(CASE WHEN ui > 0 THEN ui END), 6) AS martin FROM f")),
    Query("vortex", (s, dir) =>
      // VI+/VI- trend-change indicator: three lags + three 14-bar decimal
      // window sums over ONE per-symbol window
      Analytics.vortex(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // vortex replay: 2-decimal movement/TR terms, 14-bar decimal window
      // sums, full frames only, guarded ratio
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, high, low, close, " +
          "lag(high) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS ph, " +
          "lag(low) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS pl, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS pc FROM c), " +
          "y AS (SELECT symbol, bucket_ts, " +
          "CAST(round(abs(high - pl), 2) AS DECIMAL(18,2)) AS vmp, " +
          "CAST(round(abs(low - ph), 2) AS DECIMAL(18,2)) AS vmn, " +
          "CAST(round(greatest(high - low, abs(high - pc), abs(low - pc)), 2) AS DECIMAL(18,2)) AS tr " +
          "FROM x WHERE pc IS NOT NULL), " +
          "z AS (SELECT symbol, bucket_ts, CAST(sum(vmp) OVER w AS DECIMAL(38,2)) AS svmp, " +
          "CAST(sum(vmn) OVER w AS DECIMAL(38,2)) AS svmn, CAST(sum(tr) OVER w AS DECIMAL(38,2)) AS str, count(*) OVER w AS cnt " +
          "FROM y WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, " +
          "round(CAST(svmp AS DOUBLE) / (CASE WHEN str <> 0 THEN CAST(str AS DOUBLE) END), 6) AS vi_plus, " +
          "round(CAST(svmn AS DOUBLE) / (CASE WHEN str <> 0 THEN CAST(str AS DOUBLE) END), 6) AS vi_minus " +
          "FROM z WHERE cnt = 14")),
    Query("kama", (s, dir) =>
      // Kaufman adaptive MA: variable-alpha recursion (no window form) —
      // the ema/holt sequential sweep with exact-cent ER state; the
      // oracle replays the fold via a recursive CTE
      Analytics.kama(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // KAMA replay: decimal-exact ER terms (10-lag signal, 10-diff noise
      // window), rounded ER, then the variable-alpha fold VERBATIM via a
      // recursive CTE over per-symbol ordered lists (the holt recipe)
      s"WITH RECURSIVE t AS ($TradesSql), c AS (${candlesSql(3600000000L)}), " +
        "x AS (SELECT symbol, bucket_ts, close, CAST(close AS DECIMAL(18,2)) AS cd, " +
        "row_number() OVER (PARTITION BY symbol ORDER BY bucket_ts) AS i FROM c), " +
        "d AS (SELECT symbol, bucket_ts, close, i, " +
        "abs(cd - lag(cd) OVER (PARTITION BY symbol ORDER BY bucket_ts)) AS ad, " +
        "abs(cd - lag(cd, 10) OVER (PARTITION BY symbol ORDER BY bucket_ts)) AS sig FROM x), " +
        "e AS (SELECT symbol, bucket_ts, close, i, sig, " +
        "CAST(sum(ad) OVER (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS noise FROM d), " +
        "f AS (SELECT symbol, bucket_ts, close, " +
        "CASE WHEN noise = 0 THEN 0.0 ELSE round(CAST(sig AS DOUBLE) / CAST(noise AS DOUBLE), 6) END AS er, " +
        "row_number() OVER (PARTITION BY symbol ORDER BY bucket_ts) AS j FROM e WHERE i >= 11), " +
        "per AS (SELECT symbol, list(close ORDER BY j) AS cs, list(er ORDER BY j) AS ers, " +
        "list(bucket_ts ORDER BY j) AS tss FROM f GROUP BY 1), " +
        "r AS (SELECT symbol, 1 AS j, CAST(cs[1] AS DOUBLE) AS kama, cs, ers, tss FROM per " +
        "UNION ALL SELECT symbol, j + 1, " +
        "kama + (ers[j + 1] * (0.6666666666666666 - 0.06451612903225806) + 0.06451612903225806) * " +
        "(ers[j + 1] * (0.6666666666666666 - 0.06451612903225806) + 0.06451612903225806) * (cs[j + 1] - kama), " +
        "cs, ers, tss FROM r WHERE j < len(cs)) " +
        "SELECT symbol, tss[j] AS bucket_ts, cs[j] AS close, ers[j] AS er, " +
        "round(kama, 6) AS kama FROM r"),
    Query("holt_forecast", (s, dir) =>
      // Holt level+trend smoothing with one-step-ahead forecast: the
      // ema/macd sequential-sweep recipe, oracle replays the recursion
      // via a recursive CTE over per-symbol ordered close arrays
      Analytics.holt(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Holt replay: the recursive CTE folds the same fixed-order double
      // recursion over per-symbol ORDERED close arrays (struct-accumulator
      // list_reduce is NOT used: DuckDB 1.0 evaluates dependent struct
      // fields inconsistently - measured); literals 0.5/0.3 have exact
      // double complements so both engines fold bit-identically
      s"WITH RECURSIVE t AS ($TradesSql), c AS (${candlesSql(3600000000L)}), " +
        "per AS (SELECT symbol, list(close ORDER BY bucket_ts) AS cs, " +
        "list(bucket_ts ORDER BY bucket_ts) AS tss FROM c GROUP BY 1), " +
        "r AS (SELECT symbol, 1 AS i, cs[1] AS l, 0.0::DOUBLE AS b, cs, tss FROM per " +
        "UNION ALL SELECT symbol, i + 1, " +
        "0.5 * cs[i + 1] + 0.5 * (l + b), " +
        "0.3 * ((0.5 * cs[i + 1] + 0.5 * (l + b)) - l) + 0.7 * b, cs, tss FROM r WHERE i < len(cs)) " +
        "SELECT symbol, tss[i] AS bucket_ts, cs[i] AS close, round(l, 6) AS level, " +
        "round(b, 6) AS trend, round(l + b, 6) AS forecast FROM r"),
    Query("trend_ols", (s, dir) =>
      // per-symbol OLS time trend (slope/intercept/R2): one index window
      // + one exact co-moment aggregation
      Analytics.trendOls(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // OLS trend replay: integer/exact-decimal co-moment sums, closed-form
      // slope/intercept/R2 in identical double op order, guarded divisors
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "xy AS (SELECT symbol, CAST(row_number() OVER (PARTITION BY symbol ORDER BY bucket_ts) - 1 AS BIGINT) AS x, " +
          "CAST(close AS DECIMAL(18,2)) AS y FROM c), " +
          "a AS (SELECT symbol, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sx2, " +
          "CAST(sum(y) AS DOUBLE) AS sy, " +
          "CAST(sum(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS sy2, " +
          "CAST(sum(CAST(CAST(x AS DECIMAL(18,2)) * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy FROM xy GROUP BY 1), " +
          "b AS (SELECT symbol, n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, " +
          "CAST(sx2 AS DOUBLE) AS sx2d, sy, sy2, sxy FROM a), " +
          "f AS (SELECT symbol, n, nd, sxd, sy, " +
          "nd * sx2d - sxd * sxd AS dx, nd * sy2 - sy * sy AS dyv, nd * sxy - sxd * sy AS cov FROM b) " +
          "SELECT symbol, n, round(cov / (CASE WHEN dx <> 0 THEN dx END), 6) AS slope, " +
          "round((sy - (cov / (CASE WHEN dx <> 0 THEN dx END)) * sxd) / nd, 6) AS intercept, " +
          "round((cov * cov) / (CASE WHEN dx * dyv <> 0 THEN dx * dyv END), 6) AS r2 FROM f")),
    Query("ewma_vol", (s, dir) =>
      // RiskMetrics lambda=0.94 EWMA volatility: the ema-family
      // sequential sweep over squared returns
      Analytics.ewmaVol(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // EWMA vol replay: same unrounded-return recursion via list_reduce
      // with a scalar DOUBLE accumulator (safe, unlike struct accumulators);
      // (1 - lambda) spelled as the double expression both engines compute
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r0 AS (SELECT symbol, bucket_ts, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c), " +
          "r AS (SELECT symbol, bucket_ts, (close - prev_close) / prev_close AS ret FROM r0 " +
          "WHERE prev_close IS NOT NULL AND prev_close <> 0), " +
          "l AS (SELECT symbol, bucket_ts, ret, list(ret * ret) OVER (" +
          "PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2s FROM r) " +
          "SELECT symbol, bucket_ts, round(ret, 6) AS ret, " +
          "round(sqrt(list_reduce(r2s, (acc, x) -> 0.94 * acc + (CAST(1 AS DOUBLE) - 0.94) * x)), 6) AS ewma_vol FROM l")),
    Query("var_es", (s, dir) =>
      // 5% historical VaR + expected shortfall in integer micro-units
      // (engine-stable percentile), tail mean on exact integer sums
      Analytics.varEs(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // VaR/ES replay: micro-unit returns, quantile_cont == Spark's exact
      // interpolated percentile over integers, integer tail filter + sums
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r0 AS (SELECT symbol, bucket_ts, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c), " +
          "r AS (SELECT symbol, CAST(CAST(round((close - prev_close) / prev_close, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS rm " +
          "FROM r0 WHERE prev_close IS NOT NULL AND prev_close <> 0), " +
          "v AS (SELECT symbol, count(*) AS n, CAST(round(quantile_cont(rm, 0.05), 0) AS BIGINT) AS var_micro FROM r GROUP BY 1), " +
          "tl AS (SELECT r.symbol, rm, var_micro, n FROM r JOIN v ON r.symbol = v.symbol WHERE rm <= var_micro) " +
          "SELECT symbol, n, var_micro / 1000000.0 AS var_ret, " +
          "(CAST(sum(rm) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1000000.0 AS es_ret, " +
          "count(*) AS n_tail FROM tl GROUP BY symbol, n, var_micro")),
    Query("hurst", (s, dir) =>
      // aggregated-variance Hurst exponent: one lag window computes all
      // five k-step returns, exact-decimal co-moments, literal-ln2 axis
      Analytics.hurst(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Hurst replay: same lag window, same exact-decimal co-moments, the
      // log-k axis as literal multiples of ln 2, 5-point OLS on decimal
      // sums in identical double op order
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "lg AS (SELECT symbol, close, " +
          Seq(1, 2, 4, 8, 16).map(k => s"lag(close, $k) OVER w AS p$k").mkString(", ") +
          " FROM c WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts)), " +
          "rr AS (SELECT symbol, " +
          Seq(1, 2, 4, 8, 16).map(k =>
            s"CASE WHEN close > 0 AND p$k > 0 THEN CAST(round(ln(close / p$k), 6) AS DECIMAL(9,6)) END AS r$k").mkString(", ") +
          " FROM lg), " +
          "a AS (SELECT symbol, " +
          Seq(1, 2, 4, 8, 16).map(k =>
            s"count(r$k) AS n$k, CAST(sum(r$k) AS DOUBLE) AS s1_$k, " +
              s"CAST(sum(CAST(r$k * r$k AS DECIMAL(18,12))) AS DOUBLE) AS s2_$k").mkString(", ") +
          " FROM rr GROUP BY 1), " +
          "pts AS (" +
          Seq(1, 2, 4, 8, 16).zipWithIndex.map { case (k, i) =>
            s"SELECT symbol, $i AS i, n$k AS n, s1_$k AS s1, s2_$k AS s2 FROM a"
          }.mkString(" UNION ALL ") + "), " +
          "pv AS (SELECT symbol, i, s2 / CAST(n AS DOUBLE) - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS v " +
          "FROM pts WHERE n >= 2), " +
          "pxy AS (SELECT symbol, CAST(i AS DOUBLE) * 0.6931471805599453 AS x, round(ln(v), 6) AS y FROM pv WHERE v > 0), " +
          "f AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n_scales, " +
          "CAST(sum(CAST(round(x, 12) AS DECIMAL(18,12))) AS DOUBLE) AS sx, " +
          "CAST(sum(CAST(round(y, 6) AS DECIMAL(18,12))) AS DOUBLE) AS sy, " +
          "CAST(sum(CAST(round(x * x, 12) AS DECIMAL(18,12))) AS DOUBLE) AS sxx, " +
          "CAST(sum(CAST(round(x * y, 12) AS DECIMAL(18,12))) AS DOUBLE) AS sxy FROM pxy GROUP BY 1) " +
          "SELECT symbol, n_scales, " +
          "round((CAST(n_scales AS DOUBLE) * sxy - sx * sy) / " +
          "(CASE WHEN CAST(n_scales AS DOUBLE) * sxx - sx * sx <> 0 THEN CAST(n_scales AS DOUBLE) * sxx - sx * sx END) / 2.0, 6) AS hurst " +
          "FROM f WHERE n_scales >= 3")),
    Query("seasonal_decompose", (s, dir) =>
      // additive decomposition: centered-24h-MA trend, hour-of-day
      // seasonal means, residual; one window + dim-scale broadcast join
      Analytics.seasonalDecompose(
        Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // seasonal decomposition replay: identical centered window, identical
      // exact-decimal seasonal means, finals rounded from unrounded parts
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "b AS (SELECT symbol, bucket_ts, close, count(*) OVER w AS cnt, " +
          "CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w AS DOUBLE) / 24.0 AS trend FROM c " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)), " +
          "b2 AS (SELECT symbol, bucket_ts, close, trend, close - trend AS detr, " +
          "CAST(hour(bucket_ts) AS BIGINT) AS hod FROM b WHERE cnt = 24), " +
          "s0 AS (SELECT symbol, hod, CAST(sum(CAST(round(detr, 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS n_micros, " +
          "CAST(count(*) AS BIGINT) AS c FROM b2 GROUP BY 1, 2), " +
          "s AS (SELECT symbol, hod, CASE WHEN n_micros >= 0 THEN (2 * n_micros + c) // (2 * c) " +
          "ELSE -((2 * (-n_micros) + c) // (2 * c)) END AS s_micros FROM s0) " +
          "SELECT b2.symbol, bucket_ts, close, round(trend, 6) AS trend, " +
          "s_micros / 1000000.0 AS seasonal, " +
          "(CAST(CAST(round(close, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) - " +
          "CAST(CAST(round(trend, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) - s_micros) / 1000000.0 AS residual " +
          "FROM b2 JOIN s ON b2.symbol = s.symbol AND b2.hod = s.hod")),
    Query("kyle_lambda", (s, dir) =>
      // Kyle (1985) price impact: OLS of bucket price change on tick-rule
      // signed net flow; one trade scan, flow+open/close in the same agg
      Microstructure.kyleLambda(Tables.trades(s, dir), Tf1h.micros),
      // Kyle lambda replay: the tick_rule side-classification CTEs, then the
      // SAME bucket agg nets signed flow AND picks open/close (min_by/max_by
      // on the unique ts); exact-decimal co-moments, slope in identical
      // double op order, scaled x1e6
      withTrades(
        ", x AS (SELECT symbol, ts, price, qty, " +
          "lag(price) OVER (PARTITION BY symbol ORDER BY ts) AS pp FROM t), " +
          "y AS (SELECT symbol, ts, price, qty, CASE WHEN price > pp THEN 1 " +
          "WHEN price < pp THEN -1 END AS tick FROM x), " +
          "z AS (SELECT symbol, ts, price, qty, last_value(tick IGNORE NULLS) OVER (" +
          "PARTITION BY symbol ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS side FROM y), " +
          "g AS (SELECT symbol, make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS bucket_ts, " +
          "CAST(sum(CASE WHEN side = 1 THEN CAST(qty AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) - " +
          "sum(CASE WHEN side = -1 THEN CAST(qty AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS x, " +
          "CAST(CAST(max_by(price, ts) AS DECIMAL(18,2)) - CAST(min_by(price, ts) AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS y " +
          "FROM z GROUP BY 1, 2), " +
          "a AS (SELECT symbol, count(*) AS n_buckets, CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy, " +
          "CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx, " +
          "CAST(sum(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy FROM g GROUP BY 1) " +
          "SELECT symbol, n_buckets, round((CAST(n_buckets AS DOUBLE) * sxy - sx * sy) / " +
          "(CASE WHEN CAST(n_buckets AS DOUBLE) * sxx - sx * sx <> 0 THEN CAST(n_buckets AS DOUBLE) * sxx - sx * sx END) " +
          "* 1000000.0, 6) AS kyle_lambda FROM a")),
    Query("variance_ratio", (s, dir) =>
      // Lo-MacKinlay VR(q) for q in {2,4,8}: one lag window computes all
      // k-step returns, exact-decimal variance co-moments
      Studies.varianceRatio(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // variance-ratio replay: the hurst lag/co-moment recipe at q=1,2,4,8;
      // ratios in identical double op order, guarded on n_q and v1
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "lg AS (SELECT symbol, close, " +
          Seq(1, 2, 4, 8).map(k => s"lag(close, $k) OVER w AS p$k").mkString(", ") +
          " FROM c WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts)), " +
          "rr AS (SELECT symbol, " +
          Seq(1, 2, 4, 8).map(k =>
            s"CASE WHEN close > 0 AND p$k > 0 THEN CAST(round(ln(close / p$k), 6) AS DECIMAL(9,6)) END AS r$k").mkString(", ") +
          " FROM lg), " +
          "a AS (SELECT symbol, " +
          Seq(1, 2, 4, 8).map(k =>
            s"count(r$k) AS n$k, CAST(sum(r$k) AS DOUBLE) AS s1_$k, " +
              s"CAST(sum(CAST(r$k * r$k AS DECIMAL(18,12))) AS DOUBLE) AS s2_$k").mkString(", ") +
          " FROM rr GROUP BY 1), " +
          "v AS (SELECT symbol, n1, n2, n4, n8, " +
          Seq(1, 2, 4, 8).map(k =>
            s"s2_$k / CAST(n$k AS DOUBLE) - (s1_$k / CAST(n$k AS DOUBLE)) * (s1_$k / CAST(n$k AS DOUBLE)) AS v$k").mkString(", ") +
          " FROM a WHERE n1 >= 2) " +
          "SELECT symbol, n1 AS n_rets, " +
          Seq(2, 4, 8).map(k =>
            s"round(v$k / (CASE WHEN n$k >= 2 AND v1 > 0 THEN v1 END) / $k.0, 6) AS vr$k").mkString(", ") +
          " FROM v")),
    Query("realized_jump", (s, dir) =>
      // bipower-variation jump detection per (symbol, day): RV vs
      // jump-robust BV on exact decimal sums, literal pi/2
      Studies.realizedJump(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // bipower-variation replay: intraday lags partitioned by (symbol,
      // day), exact DECIMAL(28,12) term sums, literal pi/2, RV/BV emitted
      // as unrounded doubles (bit-identical: casts of exact decimal sums)
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "d AS (SELECT symbol, CAST(date_trunc('day', bucket_ts) AS TIMESTAMP) AS day, bucket_ts, close FROM c), " +
          "p AS (SELECT symbol, day, bucket_ts, close, " +
          "lag(close) OVER (PARTITION BY symbol, day ORDER BY bucket_ts) AS prev_close FROM d), " +
          "r AS (SELECT symbol, day, bucket_ts, CAST(round(ln(close / prev_close), 6) AS DECIMAL(9,6)) AS ret " +
          "FROM p WHERE prev_close IS NOT NULL AND prev_close > 0 AND close > 0), " +
          "r2 AS (SELECT symbol, day, ret, lag(ret) OVER (PARTITION BY symbol, day ORDER BY bucket_ts) AS prev_ret FROM r), " +
          "a AS (SELECT symbol, day, count(ret) AS n_rets, " +
          "CAST(sum(CAST(ret * ret AS DECIMAL(28,12))) AS DOUBLE) AS rv, " +
          "CAST(sum(CAST(abs(ret) * abs(prev_ret) AS DECIMAL(28,12))) AS DOUBLE) AS bp, " +
          "count(prev_ret) AS n_pairs FROM r2 GROUP BY 1, 2) " +
          "SELECT symbol, day, n_rets, rv, 1.5707963267948966 * bp AS bv, " +
          "greatest(rv - 1.5707963267948966 * bp, 0.0) AS jump, " +
          "round(greatest(rv - 1.5707963267948966 * bp, 0.0) / (CASE WHEN rv > 0 THEN rv END), 6) AS jump_share " +
          "FROM a WHERE n_pairs >= 1")),
    Query("calendar_effects", (s, dir) =>
      // day-of-week return seasonality: mean/vol per (symbol, dow) from
      // exact decimal co-moments
      Studies.calendarEffects(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // calendar-effects replay: DuckDB's 0-based dayofweek shifts to
      // Spark's 1-based; exact decimal return co-moments per (symbol, dow)
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r0 AS (SELECT symbol, bucket_ts, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c), " +
          "r AS (SELECT symbol, CAST(dayofweek(bucket_ts) + 1 AS INTEGER) AS dow, " +
          "CAST(round((close - prev_close) / (CASE WHEN prev_close <> 0 THEN prev_close END), 6) AS DECIMAL(18,6)) AS r " +
          "FROM r0 WHERE prev_close IS NOT NULL AND prev_close <> 0), " +
          // the CAST to width 19 forces DuckDB's INT128 multiply path (an
          // (18,6) square overflows its INT64 fast path on jumpy returns)
          "a AS (SELECT symbol, dow, count(*) AS n, CAST(sum(r) AS DOUBLE) AS s1, " +
          "CAST(sum(CAST(CAST(r AS DECIMAL(19,6)) * r AS DECIMAL(38,12))) AS DOUBLE) AS s2 FROM r GROUP BY 1, 2) " +
          "SELECT symbol, dow, n, round(s1 / CAST(n AS DOUBLE), 6) AS mean_ret, " +
          "round(sqrt(greatest(s2 / CAST(n AS DOUBLE) - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)), 0.0)), 6) AS vol_ret FROM a")),
    Query("aroon", (s, dir) =>
      // Aroon up/down via the packed-BIGINT windowed argmax (cents*1e9 +
      // idx); one window shuffle, full frames only
      Studies.aroon(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Aroon replay: the packed-BIGINT argmax key (cents*1e9 + idx) under a
      // plain windowed max in both engines; full 26-row frames only
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "i AS (SELECT symbol, bucket_ts, CAST(row_number() OVER (PARTITION BY symbol ORDER BY bucket_ts) AS BIGINT) AS idx, " +
          "CAST(round(high * 100, 0) AS BIGINT) AS hm, CAST(round(low * 100, 0) AS BIGINT) AS lm FROM c), " +
          "k AS (SELECT symbol, bucket_ts, idx, hm * 1000000000 + idx AS hkey, " +
          "(1000000000 - lm) * 1000000000 + idx AS lkey FROM i), " +
          "wd AS (SELECT symbol, bucket_ts, idx, count(*) OVER w AS cnt, " +
          "(max(hkey) OVER w) % 1000000000 AS hi_idx, (max(lkey) OVER w) % 1000000000 AS lo_idx FROM k " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, " +
          "round(100.0 * (25.0 - CAST(idx - hi_idx AS DOUBLE)) / 25.0, 6) AS aroon_up, " +
          "round(100.0 * (25.0 - CAST(idx - lo_idx AS DOUBLE)) / 25.0, 6) AS aroon_down, " +
          "round(round(100.0 * (25.0 - CAST(idx - hi_idx AS DOUBLE)) / 25.0, 6) - " +
          "round(100.0 * (25.0 - CAST(idx - lo_idx AS DOUBLE)) / 25.0, 6), 6) AS aroon_osc " +
          "FROM wd WHERE cnt = 26")),
    Query("event_study", (s, dir) =>
      // CAR around volume shocks: broadcast exploded event offsets into
      // an index equi-join; abnormal returns vs symbol mean
      Studies.eventStudy(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // event-study replay: the volumeAnomaly z-screen as the event source,
      // generate_series offsets joined on (symbol, idx), ARs in exact
      // DECIMAL(18,6), CAR an exact-decimal running sum cast to double
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "b AS (SELECT symbol, bucket_ts, volume, CAST(row_number() OVER w AS BIGINT) AS idx, " +
          "round((close - lag(close) OVER w) / (CASE WHEN lag(close) OVER w <> 0 THEN lag(close) OVER w END), 6) AS ret " +
          "FROM c WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts)), " +
          "st AS (SELECT symbol, count(*) AS n, CAST(sum(CAST(volume AS DECIMAL(18,2))) AS DOUBLE) AS sv1, " +
          "CAST(sum(CAST(CAST(volume AS DECIMAL(18,2)) * CAST(volume AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sv2, " +
          "count(ret) AS nr, CAST(sum(CAST(ret AS DECIMAL(18,6))) AS DOUBLE) AS sr1 FROM b GROUP BY 1), " +
          "ev AS (SELECT b.symbol, b.idx AS ev_idx, b.bucket_ts AS event_ts FROM b JOIN st ON b.symbol = st.symbol " +
          "WHERE (st.sv2 - st.n * (st.sv1 / st.n) * (st.sv1 / st.n)) / (st.n - 1) > 0 AND " +
          "round((b.volume - st.sv1 / st.n) / sqrt((st.sv2 - st.n * (st.sv1 / st.n) * (st.sv1 / st.n)) / (st.n - 1)), 6) >= 2.0), " +
          "offs AS (SELECT ev.symbol, ev.event_ts, o.off, ev.ev_idx + o.off AS idx " +
          "FROM ev CROSS JOIN (SELECT unnest(generate_series(-3, 3)) AS off) o), " +
          "mr AS (SELECT symbol, sr1 / CAST(nr AS DOUBLE) AS mean_ret FROM st WHERE nr >= 1), " +
          "j AS (SELECT b.symbol, offs.event_ts, offs.off, b.ret, " +
          "CAST(round(b.ret - mr.mean_ret, 6) AS DECIMAL(18,6)) AS ar " +
          "FROM b JOIN offs ON b.symbol = offs.symbol AND b.idx = offs.idx " +
          "JOIN mr ON b.symbol = mr.symbol WHERE b.ret IS NOT NULL) " +
          "SELECT symbol, event_ts, off, ret, CAST(ar AS DOUBLE) AS ar, " +
          "CAST(sum(ar) OVER (PARTITION BY symbol, event_ts ORDER BY off " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS car FROM j")),
    Query("kaplan_meier", (s, dir) =>
      // right-censoring-aware user-retention survival curve; user-dim
      // shrink first, then lifetime-cardinality windows
      graft.ops.Events.kaplanMeier(Tables.events(s, dir)),
      // Kaplan-Meier replay: integer lifetime division (// here, `div` in
      // Spark - a double roundtrip would round vs truncate), exact decimal
      // ln-term sums, exhausted-stratum flag pins survival 0
      "WITH mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events), " +
        "u AS (SELECT user_id, min(epoch_us(ts)) AS f_us, max(epoch_us(ts)) AS l_us FROM events GROUP BY 1), " +
        "lt AS (SELECT (l_us - f_us) // 86400000000 AS lifetime_days, " +
        "(l_us + 86400000000 <= max_us) AS churned FROM u, mx), " +
        "g AS (SELECT lifetime_days, CAST(count(*) AS BIGINT) AS n_total, " +
        "CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS n_churn FROM lt GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_total) AS BIGINT) AS all_users FROM g), " +
        "r AS (SELECT g.*, CAST(all_users - COALESCE(sum(n_total) OVER " +
        "(ORDER BY lifetime_days ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk FROM g, tot), " +
        "r2 AS (SELECT lifetime_days, n_risk, n_churn, " +
        "CASE WHEN n_churn < n_risk THEN CAST(round(ln(1.0 - CAST(n_churn AS DOUBLE) / CAST(n_risk AS DOUBLE)), 12) AS DECIMAL(28,12)) END AS term, " +
        "CASE WHEN n_churn = n_risk THEN 1 ELSE 0 END AS dead FROM r), " +
        "r3 AS (SELECT lifetime_days, n_risk, n_churn, max(dead) OVER wc AS dead_flag, " +
        "CAST(sum(term) OVER wc AS DOUBLE) AS logsum FROM r2 " +
        "WINDOW wc AS (ORDER BY lifetime_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT lifetime_days, n_risk, n_churn, " +
        "CASE WHEN dead_flag = 1 THEN 0.0 ELSE round(exp(logsum), 6) END AS survival " +
        "FROM r3 WHERE n_churn > 0"),
    Query("obv", (s, dir) =>
      Analytics.obv(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "p AS (SELECT symbol, bucket_ts, close, volume, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev FROM c), " +
          "d AS (SELECT symbol, bucket_ts, CASE " +
          "WHEN prev IS NULL OR CAST(close AS DECIMAL(18,2)) - CAST(prev AS DECIMAL(18,2)) = CAST(0 AS DECIMAL(18,2)) THEN CAST(0 AS DECIMAL(18,2)) " +
          "WHEN CAST(close AS DECIMAL(18,2)) - CAST(prev AS DECIMAL(18,2)) > CAST(0 AS DECIMAL(18,2)) THEN CAST(volume AS DECIMAL(18,2)) " +
          "ELSE -CAST(volume AS DECIMAL(18,2)) END AS signed_vol FROM p) " +
          "SELECT symbol, bucket_ts, CAST(sum(signed_vol) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS obv FROM d")),
    Query("adl", (s, dir) =>
      // accumulation/distribution line: range-weighted money flow in an
      // exact-decimal running sum; one window shuffle
      Analytics.adl(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // ADL replay: rounded CLV in DECIMAL(9,6) x volume in exact decimals
      // (the width-19 volume cast forces DuckDB's INT128 multiply), running
      // sum exact, surfaced double; zero-range candles contribute literal 0
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "m AS (SELECT symbol, bucket_ts, " +
          "CAST(CAST(COALESCE(round(((close - low) - (high - close)) / " +
          "(CASE WHEN high <> low THEN high - low END), 6), 0.0) AS DECIMAL(9,6)) * " +
          "CAST(volume AS DECIMAL(19,2)) AS DECIMAL(28,8)) AS mfv FROM c) " +
          "SELECT symbol, bucket_ts, CAST(sum(mfv) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS adl FROM m")),
    Query("chaikin_osc", (s, dir) =>
      // EMA(3)-EMA(10) of the ADL: both recursions in one per-symbol
      // sweep; oracle folds the same literal-alpha doubles
      Analytics.chaikinOsc(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Chaikin oscillator replay: the adl CTEs, then BOTH EMA recursions
      // as scalar-double list_reduce folds (safe, unlike struct
      // accumulators) over the per-symbol running list; alpha literals
      // spelled exactly as the sweep computes them
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "m AS (SELECT symbol, bucket_ts, " +
          "CAST(CAST(COALESCE(round(((close - low) - (high - close)) / " +
          "(CASE WHEN high <> low THEN high - low END), 6), 0.0) AS DECIMAL(9,6)) * " +
          "CAST(volume AS DECIMAL(19,2)) AS DECIMAL(28,8)) AS mfv FROM c), " +
          "ad AS (SELECT symbol, bucket_ts, CAST(sum(mfv) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS adl FROM m), " +
          "l AS (SELECT symbol, bucket_ts, adl, list(adl) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls FROM ad) " +
          "SELECT symbol, bucket_ts, adl, " +
          "round(list_reduce(ls, (acc, x) -> 0.5 * x + 0.5 * acc) - " +
          "list_reduce(ls, (acc, x) -> (2.0 / 11.0) * x + (1.0 - 2.0 / 11.0) * acc), 6) AS chaikin_osc FROM l")),
    Query("bollinger", (s, dir) =>
      Analytics.bollinger(Candles.fromTrades(Tables.trades(s, dir), Tf1h), 20),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "f AS (SELECT symbol, bucket_ts, close, " +
          "CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_c, " +
          "CAST(sum(CAST(CAST(close AS DECIMAL(18,2)) * CAST(close AS DECIMAL(18,2)) AS DECIMAL(28,4))) OVER w AS DOUBLE) AS sum_c2, " +
          "count(*) OVER w AS cnt FROM c " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
          "g AS (SELECT symbol, bucket_ts, close, sum_c / CAST(cnt AS DOUBLE) AS mean, " +
          "greatest((sum_c2 - sum_c * sum_c / CAST(cnt AS DOUBLE)) / CAST(cnt - 1 AS DOUBLE), 0.0) AS var " +
          "FROM f WHERE cnt = 20) " +
          "SELECT symbol, bucket_ts, close, mean, " +
          "mean + 2.0 * sqrt(var) AS upper, mean - 2.0 * sqrt(var) AS lower FROM g")),
    Query("rsi", (s, dir) =>
      Analytics.rsi(Candles.fromTrades(Tables.trades(s, dir), Tf1h), 14),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "p AS (SELECT symbol, bucket_ts, close, lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev FROM c), " +
          "d AS (SELECT symbol, bucket_ts, " +
          "greatest(CAST(close AS DECIMAL(18,2)) - CAST(prev AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) AS gain, " +
          "greatest(-(CAST(close AS DECIMAL(18,2)) - CAST(prev AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS loss " +
          "FROM p WHERE prev IS NOT NULL), " +
          "f AS (SELECT symbol, bucket_ts, " +
          "CAST(sum(gain) OVER w AS DOUBLE) AS sum_gain, " +
          "CAST(sum(loss) OVER w AS DOUBLE) AS sum_loss, count(*) OVER w AS cnt FROM d " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, round(CASE WHEN sum_loss = 0.0 THEN 100.0 " +
          "ELSE 100.0 - 100.0 / (1.0 + sum_gain / sum_loss) END, 6) AS rsi FROM f WHERE cnt = 14")),
    Query("macd", (s, dir) =>
      Analytics.macd(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "l AS (SELECT symbol, bucket_ts, list(close) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS closes FROM c), " +
          "m AS (SELECT symbol, bucket_ts, " +
          "list_reduce(closes, (acc, x) -> (CAST(2 AS DOUBLE) / CAST(13 AS DOUBLE)) * x + " +
          "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / CAST(13 AS DOUBLE)) * acc) - " +
          "list_reduce(closes, (acc, x) -> (CAST(2 AS DOUBLE) / CAST(27 AS DOUBLE)) * x + " +
          "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / CAST(27 AS DOUBLE)) * acc) AS macd FROM l), " +
          "g0 AS (SELECT symbol, bucket_ts, macd, list(macd) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS macds FROM m), " +
          "g AS (SELECT symbol, bucket_ts, macd, " +
          "list_reduce(macds, (acc, x) -> (CAST(2 AS DOUBLE) / CAST(10 AS DOUBLE)) * x + " +
          "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / CAST(10 AS DOUBLE)) * acc) AS sig FROM g0) " +
          "SELECT symbol, bucket_ts, round(macd, 6) AS macd, round(sig, 6) AS signal_line, " +
          "round(macd - sig, 6) AS histogram FROM g")),
    Query("stochastic", (s, dir) =>
      Analytics.stochastic(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "f AS (SELECT symbol, bucket_ts, close, max(high) OVER w AS hh, min(low) OVER w AS ll, " +
          "count(*) OVER w AS cnt FROM c " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)), " +
          "g AS (SELECT symbol, bucket_ts, CASE WHEN hh <> ll THEN 100.0 * (close - ll) / (hh - ll) END AS k " +
          "FROM f WHERE cnt = 14) " +
          "SELECT symbol, bucket_ts, round(k, 6) AS pct_k, " +
          "round(((k + lag(k, 1) OVER wo) + lag(k, 2) OVER wo) / 3.0, 6) AS pct_d FROM g " +
          "WINDOW wo AS (PARTITION BY symbol ORDER BY bucket_ts)")),
    Query("williams_r", (s, dir) =>
      Analytics.williamsR(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "f AS (SELECT symbol, bucket_ts, close, max(high) OVER w AS hh, min(low) OVER w AS ll, " +
          "count(*) OVER w AS cnt FROM c " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, " +
          "round(CASE WHEN hh <> ll THEN -100.0 * (hh - close) / (hh - ll) END, 6) + 0.0 AS wpr " +
          "FROM f WHERE cnt = 14")),
    Query("adx", (s, dir) =>
      // double Wilder smoothing in one sequential per-symbol sweep;
      // recursion bit-identical to the list_reduce prefix replay
      Analytics.adx(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, high, low, close, " +
          "lag(high) OVER ws AS ph, lag(low) OVER ws AS pl, lag(close) OVER ws AS pc FROM c " +
          "WINDOW ws AS (PARTITION BY symbol ORDER BY bucket_ts)), " +
          "y AS (SELECT symbol, bucket_ts, " +
          "greatest(high - low, abs(high - pc), abs(low - pc)) AS tr, " +
          "CASE WHEN (high - ph) > (pl - low) AND (high - ph) > 0 THEN high - ph ELSE 0.0 END AS pdm, " +
          "CASE WHEN (pl - low) > (high - ph) AND (pl - low) > 0 THEN pl - low ELSE 0.0 END AS ndm " +
          "FROM x WHERE ph IS NOT NULL), " +
          "z AS (SELECT symbol, bucket_ts, list(tr) OVER wu AS trs, " +
          "list(pdm) OVER wu AS pdms, list(ndm) OVER wu AS ndms FROM y " +
          "WINDOW wu AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
          // Wilder smoothing = the alpha = 1/14 EMA fold, seeded by
          // list_reduce's first element; constants and operation order
          // mirror the Spark sweep exactly
          "w AS (SELECT symbol, bucket_ts, " +
          "list_reduce(trs, (acc, v) -> (1.0/14.0) * v + (1 - 1.0/14.0) * acc) AS str, " +
          "list_reduce(pdms, (acc, v) -> (1.0/14.0) * v + (1 - 1.0/14.0) * acc) AS sp, " +
          "list_reduce(ndms, (acc, v) -> (1.0/14.0) * v + (1 - 1.0/14.0) * acc) AS sn FROM z), " +
          "d AS (SELECT symbol, bucket_ts, " +
          "CASE WHEN str <> 0 THEN 100.0 * sp / str END AS pdi, " +
          "CASE WHEN str <> 0 THEN 100.0 * sn / str END AS ndi FROM w), " +
          "e AS (SELECT symbol, bucket_ts, pdi, ndi, " +
          "CASE WHEN pdi + ndi <> 0 THEN 100.0 * abs(pdi - ndi) / (pdi + ndi) END AS dx FROM d), " +
          "g AS (SELECT symbol, bucket_ts, pdi, ndi, " +
          "list_reduce(list(dx) OVER wu, (acc, v) -> (1.0/14.0) * v + (1 - 1.0/14.0) * acc) AS adx FROM e " +
          "WINDOW wu AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, round(pdi, 6) AS plus_di, round(ndi, 6) AS minus_di, " +
          "round(adx, 6) AS adx FROM g")),
    Query("anchored_vwap", (s, dir) =>
      Analytics.anchoredVwap(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}) " +
          "SELECT symbol, bucket_ts, round(cum_pv / cum_v, 6) AS avwap, " +
          "round(cum_v, 6) AS cum_volume FROM (" +
          "SELECT symbol, bucket_ts, " +
          "CAST(sum(((high + low + close) / 3.0) * volume) OVER w AS DOUBLE) AS cum_pv, " +
          "CAST(sum(volume) OVER w AS DOUBLE) AS cum_v FROM c " +
          "WINDOW w AS (PARTITION BY symbol, date_trunc('day', bucket_ts) " +
          "ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
          "WHERE cum_v > 0")),
    Query("cci", (s, dir) =>
      // window tp list folded in frame order for BOTH sma and mean
      // deviation (window-end sma in every term) — engine-reassociation-
      // proof, the sliding-window version of the EMA fold oracle
      Analytics.cci(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "t2 AS (SELECT symbol, bucket_ts, (high + low + close) / 3.0 AS tp FROM c), " +
          "f AS (SELECT symbol, bucket_ts, tp, list(tp) OVER w AS tps, count(*) OVER w AS cnt FROM t2 " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
          // both sma and mean deviation are in-order left folds over the
          // window list (CAST keeps the 0.0 seed a DOUBLE), mirroring the
          // Spark aggregate() lambdas term for term
          "g AS (SELECT symbol, bucket_ts, tp, " +
          "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), tps), (acc, x) -> acc + x) / 20 AS sma_tp, tps " +
          "FROM f WHERE cnt = 20), " +
          "h AS (SELECT symbol, bucket_ts, tp, sma_tp, " +
          "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          "list_transform(tps, x -> abs(x - sma_tp))), (acc, x) -> acc + x) / 20 AS md FROM g) " +
          "SELECT symbol, bucket_ts, " +
          "round(CASE WHEN md <> 0.0 THEN (tp - sma_tp) / (0.015 * md) END, 6) AS cci FROM h")),
    Query("mfi", (s, dir) =>
      Analytics.mfi(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "t2 AS (SELECT symbol, bucket_ts, volume, (high + low + close) / 3.0 AS tp, " +
          "lag((high + low + close) / 3.0, 1) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS tp_prev FROM c), " +
          "f AS (SELECT symbol, bucket_ts, " +
          "CASE WHEN tp > tp_prev THEN tp * volume ELSE 0.0 END AS pos_mf, " +
          "CASE WHEN tp < tp_prev THEN tp * volume ELSE 0.0 END AS neg_mf " +
          "FROM t2 WHERE tp_prev IS NOT NULL), " +
          "g AS (SELECT symbol, bucket_ts, CAST(sum(pos_mf) OVER w AS DOUBLE) AS pos_sum, " +
          "CAST(sum(neg_mf) OVER w AS DOUBLE) AS neg_sum, count(*) OVER w AS cnt FROM f " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, " +
          "round(CASE WHEN neg_sum = 0.0 AND pos_sum = 0.0 THEN NULL " +
          "WHEN neg_sum = 0.0 THEN 100.0 " +
          "ELSE 100.0 - 100.0 / (1.0 + pos_sum / neg_sum) END, 6) AS mfi " +
          "FROM g WHERE cnt = 14")),
    Query("donchian", (s, dir) =>
      Analytics.donchian(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "f AS (SELECT symbol, bucket_ts, close, max(high) OVER w AS upper_band, " +
          "min(low) OVER w AS lower_band, count(*) OVER w AS cnt FROM c " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, close, upper_band, lower_band, " +
          "round((upper_band + lower_band) / 2.0, 6) AS middle FROM f WHERE cnt = 20")),
    Query("keltner", (s, dir) =>
      Analytics.keltner(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "l AS (SELECT symbol, bucket_ts, list(close) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS closes FROM c), " +
          "e AS (SELECT symbol, bucket_ts, " +
          "list_reduce(closes, (acc, x) -> (CAST(2 AS DOUBLE) / CAST(21 AS DOUBLE)) * x + " +
          "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / CAST(21 AS DOUBLE)) * acc) AS ema FROM l), " +
          "p AS (SELECT symbol, bucket_ts, high, low, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c), " +
          "d AS (SELECT symbol, bucket_ts, greatest(" +
          "CAST(high AS DECIMAL(18,2)) - CAST(low AS DECIMAL(18,2)), " +
          "abs(CAST(high AS DECIMAL(18,2)) - CAST(prev_close AS DECIMAL(18,2))), " +
          "abs(CAST(low AS DECIMAL(18,2)) - CAST(prev_close AS DECIMAL(18,2)))) AS tr " +
          "FROM p WHERE prev_close IS NOT NULL), " +
          "f AS (SELECT symbol, bucket_ts, CAST(sum(tr) OVER w AS DOUBLE) AS sum_tr, " +
          "count(*) OVER w AS cnt FROM d " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)), " +
          "g AS (SELECT symbol, bucket_ts, round(sum_tr / CAST(cnt AS DOUBLE), 6) AS atr " +
          "FROM f WHERE cnt = 10) " +
          "SELECT e.symbol, e.bucket_ts, round(ema, 6) AS center, " +
          "round(ema + 2.0 * atr, 6) AS upper_band, round(ema - 2.0 * atr, 6) AS lower_band " +
          "FROM e JOIN g ON e.symbol = g.symbol AND e.bucket_ts = g.bucket_ts")),
    Query("acf", (s, dir) =>
      Analytics.autocorrelation(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r AS (SELECT symbol, bucket_ts, (close - prev_close) / prev_close AS ret FROM (" +
          "SELECT symbol, bucket_ts, close, lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c) " +
          "WHERE prev_close IS NOT NULL), " +
          "lg AS (SELECT symbol, ret, " +
          (1 to 5).map(l =>
            s"lag(ret, $l) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS l$l").mkString(", ") +
          " FROM r), " +
          "st AS (" +
          (1 to 5).map(l =>
            s"SELECT symbol, ret, CAST($l AS BIGINT) AS lag_n, l$l AS rlag FROM lg WHERE l$l IS NOT NULL")
            .mkString(" UNION ALL ") + ") " +
          "SELECT symbol, lag_n, count(*) AS n, round(corr(ret, rlag), 6) AS acf " +
          "FROM st GROUP BY 1, 2 HAVING count(*) > 1")),
    Query("hourly_profile", (s, dir) =>
      Analytics.hourlyProfile(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}) " +
          "SELECT symbol, CAST(hour(bucket_ts) AS BIGINT) AS hour_of_day, count(*) AS n_buckets, " +
          "CAST(sum(CAST(volume AS DECIMAL(18,2))) AS DOUBLE) AS total_volume, " +
          "CAST(sum(CAST(volume AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_volume, " +
          "CAST(sum(trades) AS BIGINT) AS total_trades FROM c GROUP BY 1, 2")),
    Query("pivot_points", (s, dir) =>
      Analytics.pivotPoints(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "d AS (SELECT symbol, CAST(date_trunc('day', bucket_ts) AS TIMESTAMP) AS day, " +
          "max(high) AS h, min(low) AS l, max_by(close, bucket_ts) AS c FROM c GROUP BY 1, 2), " +
          "p AS (SELECT symbol, day, lag(h) OVER w AS ph, lag(l) OVER w AS pl, lag(c) OVER w AS pc " +
          "FROM d WINDOW w AS (PARTITION BY symbol ORDER BY day)), " +
          "f AS (SELECT symbol, day, ph, pl, (ph + pl + pc) / 3.0 AS pv FROM p WHERE ph IS NOT NULL) " +
          "SELECT symbol, day, round(pv, 6) AS pivot, " +
          "round(2.0 * pv - pl, 6) AS r1, round(2.0 * pv - ph, 6) AS s1, " +
          "round(pv + (ph - pl), 6) AS r2, round(pv - (ph - pl), 6) AS s2 FROM f")),
    Query("cusum", (s, dir) =>
      Analytics.cusum(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "r AS (SELECT symbol, bucket_ts, (close - prev_close) / prev_close AS ret FROM (" +
          "SELECT symbol, bucket_ts, close, lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev_close FROM c) " +
          "WHERE prev_close IS NOT NULL), " +
          "st AS (SELECT symbol, count(ret) AS n, CAST(sum(CAST(ret AS DECIMAL(18,12))) AS DOUBLE) AS s1, " +
          "CAST(sum(CAST(CAST(ret AS DECIMAL(18,12)) * CAST(ret AS DECIMAL(18,12)) AS DECIMAL(38,24))) AS DOUBLE) AS s2 " +
          "FROM r GROUP BY 1), " +
          "st2 AS (SELECT symbol, mu, variance FROM (" +
          "SELECT symbol, n, mu, (s2 - n * mu * mu) / (n - 1) AS variance FROM (" +
          "SELECT symbol, n, s1, s2, s1 / n AS mu FROM st) x1 WHERE n >= 2) x2 " +
          "WHERE variance > 0), " +
          "zl AS (SELECT r.symbol, r.bucket_ts, (r.ret - st2.mu) / sqrt(st2.variance) AS z " +
          "FROM r JOIN st2 ON r.symbol = st2.symbol), " +
          "zz AS (SELECT symbol, bucket_ts, z, list(z) OVER (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zs FROM zl), " +
          "ff AS (SELECT symbol, bucket_ts, z, " +
          "list_reduce(list_prepend(CAST(0 AS DOUBLE), zs), (acc, x) -> greatest(CAST(0 AS DOUBLE), acc + x - 0.5)) AS sp, " +
          "list_reduce(list_prepend(CAST(0 AS DOUBLE), zs), (acc, x) -> least(CAST(0 AS DOUBLE), acc + x + 0.5)) AS sn FROM zz) " +
          "SELECT symbol, bucket_ts, round(z, 6) AS zscore, round(sp, 6) AS cusum_pos, " +
          "round(sn, 6) AS cusum_neg, (sp > 4.0 OR sn < -4.0) AS breach FROM ff")),
    Query("ichimoku", (s, dir) =>
      Analytics.ichimoku(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "f AS (SELECT symbol, bucket_ts, close, " +
          "(max(high) OVER w9 + min(low) OVER w9) / 2.0 AS conversion, " +
          "(max(high) OVER w26 + min(low) OVER w26) / 2.0 AS base, " +
          "(max(high) OVER w52 + min(low) OVER w52) / 2.0 AS span_b_now, " +
          "count(*) OVER w26 AS cnt FROM c " +
          "WINDOW w9 AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 8 PRECEDING AND CURRENT ROW), " +
          "w26 AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 25 PRECEDING AND CURRENT ROW), " +
          "w52 AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)), " +
          "g AS (SELECT symbol, bucket_ts, close, conversion, base, cnt, " +
          "lag((conversion + base) / 2.0, 26) OVER wo AS span_a, " +
          "lag(span_b_now, 26) OVER wo AS span_b, " +
          "lead(close, 26) OVER wo AS lagging_close FROM f " +
          "WINDOW wo AS (PARTITION BY symbol ORDER BY bucket_ts)) " +
          "SELECT symbol, bucket_ts, close, round(conversion, 6) AS conversion, " +
          "round(base, 6) AS base, round(span_a, 6) AS span_a, " +
          "round(span_b, 6) AS span_b, lagging_close FROM g WHERE cnt = 26")),
    Query("market_breadth", (s, dir) =>
      Analytics.marketBreadth(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "p AS (SELECT symbol, bucket_ts, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev FROM c) " +
          "SELECT bucket_ts, " +
          "CAST(sum(CASE WHEN close > prev THEN 1 ELSE 0 END) AS BIGINT) AS n_up, " +
          "CAST(sum(CASE WHEN close < prev THEN 1 ELSE 0 END) AS BIGINT) AS n_down, " +
          "CAST(sum(CASE WHEN close = prev THEN 1 ELSE 0 END) AS BIGINT) AS n_flat, " +
          "CASE WHEN CAST(sum(CASE WHEN close < prev THEN 1 ELSE 0 END) AS BIGINT) > 0 THEN " +
          "round(CAST(sum(CASE WHEN close > prev THEN 1 ELSE 0 END) AS DOUBLE) / " +
          "CAST(sum(CASE WHEN close < prev THEN 1 ELSE 0 END) AS BIGINT), 6) END AS ad_ratio " +
          "FROM p WHERE prev IS NOT NULL GROUP BY 1")),
    Query("trix", (s, dir) =>
      // triple-EMA rate of change: chained recursion (e2 folds the fresh
      // e1), one sequential sweep; recursive-CTE oracle with substituted
      // e1/e2 expressions
      Analytics.trix(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // TRIX replay: the chained triple-EMA recursion with e1/e2 SUBSTITUTED
      // textually (a recursive CTE cannot reference fresh columns), alpha
      // spelled 0.2 and the complement computed as (1.0 - 0.2) — never a
      // 0.8 literal (1 - fl(0.2) != fl(0.8))
      {
        val E1 = "(0.2 * cs[j + 1] + (1.0 - 0.2) * e1)"
        val E2 = s"(0.2 * $E1 + (1.0 - 0.2) * e2)"
        val E3 = s"(0.2 * $E2 + (1.0 - 0.2) * e3)"
        s"WITH RECURSIVE t AS ($TradesSql), c AS (${candlesSql(3600000000L)}), " +
          "per AS (SELECT symbol, list(close ORDER BY bucket_ts) AS cs, " +
          "list(bucket_ts ORDER BY bucket_ts) AS tss FROM c GROUP BY 1), " +
          "r AS (SELECT symbol, 1 AS j, CAST(cs[1] AS DOUBLE) AS e1, " +
          "CAST(cs[1] AS DOUBLE) AS e2, CAST(cs[1] AS DOUBLE) AS e3, " +
          "CAST(NULL AS DOUBLE) AS e3p, cs, tss FROM per " +
          s"UNION ALL SELECT symbol, j + 1, $E1, $E2, $E3, e3, cs, tss FROM r WHERE j < len(cs)) " +
          "SELECT symbol, tss[j] AS bucket_ts, cs[j] AS close, round(e3, 6) AS e3, " +
          "CASE WHEN e3p IS NOT NULL AND e3p <> 0.0 THEN round(100.0 * (e3 / e3p - 1.0), 6) END AS trix FROM r"
      }),
    Query("cmo", (s, dir) =>
      // Chande momentum: up/down 14-bar decimal frame sums off one lag
      // window (the vortex recipe), symmetric bounded oscillator
      Analytics.cmo(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS pc FROM c), " +
          "y AS (SELECT symbol, bucket_ts, " +
          "CAST(round(greatest(close - pc, 0.0), 2) AS DECIMAL(18,2)) AS up, " +
          "CAST(round(greatest(pc - close, 0.0), 2) AS DECIMAL(18,2)) AS dn " +
          "FROM x WHERE pc IS NOT NULL), " +
          "z AS (SELECT symbol, bucket_ts, CAST(sum(up) OVER w AS DECIMAL(38,2)) AS su, CAST(sum(dn) OVER w AS DECIMAL(38,2)) AS sd, " +
          "count(*) OVER w AS cnt FROM y WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, round(100.0 * (CAST(su AS DOUBLE) - CAST(sd AS DOUBLE)) / " +
          "(CASE WHEN su + sd <> 0 THEN CAST(su + sd AS DOUBLE) END), 6) AS cmo FROM z WHERE cnt = 14")),
    Query("dpo", (s, dir) =>
      // detrended price oscillator: displaced close minus the current
      // 20-bar SMA — one window, exact decimal frame sum
      Analytics.dpo(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // DPO replay: exact decimal SMA frame sum, displaced lag, one subtract
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "z AS (SELECT symbol, bucket_ts, close, " +
          "sum(CAST(close AS DECIMAL(18,2))) OVER w AS sc, count(*) OVER w AS cnt, " +
          "lag(close, 11) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS disp " +
          "FROM c WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, round(disp - CAST(sc AS DOUBLE) / 20.0, 6) AS dpo " +
          "FROM z WHERE cnt = 20 AND disp IS NOT NULL")),
    Query("elder_ray", (s, dir) =>
      // bull/bear power vs the EMA13 value line: the ema sweep carrying
      // high/low alongside; list_reduce oracle
      Analytics.elderRay(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Elder Ray replay: the ema list_reduce fold, powers subtracted inside
      // the rounded expression
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "l AS (SELECT symbol, bucket_ts, high, low, list(close) OVER (" +
          "PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS closes FROM c), " +
          "e AS (SELECT symbol, bucket_ts, high, low, list_reduce(closes, (acc, x) -> " +
          "(CAST(2 AS DOUBLE) / CAST(14 AS DOUBLE)) * x + " +
          "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / CAST(14 AS DOUBLE)) * acc) AS ev FROM l) " +
          "SELECT symbol, bucket_ts, round(high - ev, 6) AS bull_power, " +
          "round(low - ev, 6) AS bear_power FROM e")),
    Query("force_index", (s, dir) =>
      // volume x close-change, EMA13-smoothed: exact decimal product
      // terms, unrounded EMA fold, list_reduce oracle
      Analytics.forceIndex(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Force-index replay: exact scale-4 decimal product terms, the ema
      // scalar fold seeded at each symbol's first term
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, close, volume, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS pc FROM c), " +
          "f AS (SELECT symbol, bucket_ts, CAST((CAST(close AS DECIMAL(18,2)) - CAST(pc AS DECIMAL(18,2))) * " +
          "CAST(volume AS DECIMAL(18,2)) AS DOUBLE) AS fi FROM x WHERE pc IS NOT NULL), " +
          "l AS (SELECT symbol, bucket_ts, fi, list(fi) OVER (" +
          "PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fis FROM f) " +
          "SELECT symbol, bucket_ts, round(fi, 6) AS force_index, " +
          "round(list_reduce(fis, (acc, x) -> (CAST(2 AS DOUBLE) / CAST(14 AS DOUBLE)) * x + " +
          "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) / CAST(14 AS DOUBLE)) * acc), 6) AS force_ema FROM l")),
    Query("mass_index", (s, dir) =>
      // range-expansion reversal bulge: chained double EMA9 of the range
      // (trix convention) + exact-decimal 25-bar ratio sum
      Analytics.massIndex(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Mass-index replay: the chained EMA9/EMA9 recursion with substituted
      // e1 (the trix technique) over ranges, rounded ratios into an exact
      // decimal 25-bar window sum
      {
        val E1 = "(0.2 * rs[j + 1] + (1.0 - 0.2) * e1)"
        val E2 = s"(0.2 * $E1 + (1.0 - 0.2) * e2)"
        s"WITH RECURSIVE t AS ($TradesSql), c AS (${candlesSql(3600000000L)}), " +
          "per AS (SELECT symbol, list(high - low ORDER BY bucket_ts) AS rs, " +
          "list(bucket_ts ORDER BY bucket_ts) AS tss FROM c GROUP BY 1), " +
          "r AS (SELECT symbol, 1 AS j, CAST(rs[1] AS DOUBLE) AS e1, " +
          "CAST(rs[1] AS DOUBLE) AS e2, rs, tss FROM per " +
          s"UNION ALL SELECT symbol, j + 1, $E1, $E2, rs, tss FROM r WHERE j < len(rs)), " +
          "q AS (SELECT symbol, tss[j] AS bucket_ts, " +
          "CASE WHEN e2 <> 0.0 THEN CAST(round(e1 / e2, 6) AS DECIMAL(18,6)) END AS r6 FROM r), " +
          "q2 AS (SELECT symbol, bucket_ts, r6 FROM q WHERE r6 IS NOT NULL), " +
          "z AS (SELECT symbol, bucket_ts, CAST(sum(r6) OVER w AS DECIMAL(38,6)) AS mi, count(*) OVER w AS cnt " +
          "FROM q2 WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, round(CAST(mi AS DOUBLE), 6) AS mass_index FROM z WHERE cnt = 25"
      }),
    Query("vwma", (s, dir) =>
      // volume-weighted MA: exact decimal price x volume frame sums, one
      // division; the rolling sibling of vwap
      Analytics.vwma(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // VWMA replay: exact decimal price x volume frame sums, one division
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "z AS (SELECT symbol, bucket_ts, " +
          "sum(CAST(CAST(close AS DECIMAL(18,2)) * CAST(volume AS DECIMAL(18,2)) AS DECIMAL(38,4))) OVER w AS spv, " +
          "sum(CAST(volume AS DECIMAL(18,2))) OVER w AS sv, count(*) OVER w AS cnt " +
          "FROM c WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, round(CAST(spv AS DOUBLE) / " +
          "(CASE WHEN sv <> 0 THEN CAST(sv AS DOUBLE) END), 6) AS vwma FROM z WHERE cnt = 20")),
    Query("ultimate_osc", (s, dir) =>
      // Williams Ultimate: BP/TR averaged at 7/14/28 and blended 4:2:1;
      // six decimal frame sums on one window partitioning
      Analytics.ultimateOsc(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Ultimate-oscillator replay: rounded BP/TR decimal frame sums at the
      // three horizons, the 4:2:1 blend in identical double op order
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, high, low, close, " +
          "lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS pc FROM c), " +
          "y AS (SELECT symbol, bucket_ts, " +
          "CAST(round(close - least(low, pc), 2) AS DECIMAL(18,2)) AS bp, " +
          "CAST(round(greatest(high, pc) - least(low, pc), 2) AS DECIMAL(18,2)) AS tr " +
          "FROM x WHERE pc IS NOT NULL), " +
          "z AS (SELECT symbol, bucket_ts, " +
          "CAST(sum(bp) OVER w7 AS DOUBLE) / (CASE WHEN CAST(sum(tr) OVER w7 AS DECIMAL(38,2)) <> 0 THEN CAST(sum(tr) OVER w7 AS DOUBLE) END) AS a1, " +
          "CAST(sum(bp) OVER w14 AS DOUBLE) / (CASE WHEN CAST(sum(tr) OVER w14 AS DECIMAL(38,2)) <> 0 THEN CAST(sum(tr) OVER w14 AS DOUBLE) END) AS a2, " +
          "CAST(sum(bp) OVER w28 AS DOUBLE) / (CASE WHEN CAST(sum(tr) OVER w28 AS DECIMAL(38,2)) <> 0 THEN CAST(sum(tr) OVER w28 AS DOUBLE) END) AS a3, " +
          "count(*) OVER w28 AS cnt FROM y WINDOW " +
          "w7 AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), " +
          "w14 AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), " +
          "w28 AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, round(100.0 * (4.0 * a1 + 2.0 * a2 + a3) / 7.0, 6) AS ultimate_osc " +
          "FROM z WHERE cnt = 28")),
    Query("coppock", (s, dir) =>
      // Coppock curve: front-weighted WMA(10) of ROC14+ROC11 spelled as
      // ten integer-weighted lags over exact decimals — association-free
      Analytics.coppock(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Coppock replay: the ten integer-weighted lags over the exact decimal
      // ROC sum — written out so no windowed float sum exists in either engine
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, close, " +
          "lag(close, 14) OVER ws AS p14, lag(close, 11) OVER ws AS p11 " +
          "FROM c WINDOW ws AS (PARTITION BY symbol ORDER BY bucket_ts)), " +
          "y AS (SELECT symbol, bucket_ts, " +
          "CAST(round(100.0 * (close / (CASE WHEN p14 <> 0 THEN p14 END) - 1.0), 6) + " +
          "round(100.0 * (close / (CASE WHEN p11 <> 0 THEN p11 END) - 1.0), 6) AS DECIMAL(18,6)) AS s FROM x), " +
          "z AS (SELECT symbol, bucket_ts, " +
          (0 until 10).map(j =>
            if (j == 0) "10 * s" else s"${10 - j} * (lag(s, $j) OVER ws)")
            .mkString("", " + ", " AS wsum, ") +
          "(lag(s, 9) OVER ws) AS gate FROM y WINDOW ws AS (PARTITION BY symbol ORDER BY bucket_ts)) " +
          "SELECT symbol, bucket_ts, round(CAST(wsum AS DOUBLE) / 55.0, 6) AS coppock " +
          "FROM z WHERE gate IS NOT NULL")),
    Query("stoch_rsi", (s, dir) =>
      // StochRSI: the %K normalization over the window-form RSI; the
      // min/max frame stacks on the same partitioning, no extra shuffle
      Analytics.stochRsi(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // StochRSI replay: the rsi CTE chain, then min/max frames over the
      // rounded RSI doubles (picks, order-free)
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "p AS (SELECT symbol, bucket_ts, close, lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS prev FROM c), " +
          "d AS (SELECT symbol, bucket_ts, " +
          "greatest(CAST(close AS DECIMAL(18,2)) - CAST(prev AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) AS gain, " +
          "greatest(-(CAST(close AS DECIMAL(18,2)) - CAST(prev AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS loss " +
          "FROM p WHERE prev IS NOT NULL), " +
          "f AS (SELECT symbol, bucket_ts, " +
          "CAST(sum(gain) OVER w AS DOUBLE) AS sum_gain, " +
          "CAST(sum(loss) OVER w AS DOUBLE) AS sum_loss, count(*) OVER w AS cnt FROM d " +
          "WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)), " +
          "r AS (SELECT symbol, bucket_ts, round(CASE WHEN sum_loss = 0.0 THEN 100.0 " +
          "ELSE 100.0 - 100.0 / (1.0 + sum_gain / sum_loss) END, 6) AS rsi FROM f WHERE cnt = 14), " +
          "z AS (SELECT symbol, bucket_ts, rsi, min(rsi) OVER w2 AS lo, max(rsi) OVER w2 AS hi, " +
          "count(*) OVER w2 AS cnt2 FROM r WINDOW w2 AS (PARTITION BY symbol ORDER BY bucket_ts " +
          "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, rsi, round((rsi - lo) / " +
          "(CASE WHEN hi <> lo THEN hi - lo END), 6) AS stoch_rsi FROM z WHERE cnt2 = 14")),
    Query("emv", (s, dir) =>
      // Arms Ease of Movement: midpoint advance per unit volume — pure
      // integer micro-unit pipeline, no engine round() anywhere
      Analytics.emv(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // EMV replay: identical float term expression rounded into exact
      // decimal frame sums over surviving (nonzero-volume) bars
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, high, low, volume, " +
          "lag(high) OVER ws AS ph, lag(low) OVER ws AS pl " +
          "FROM c WINDOW ws AS (PARTITION BY symbol ORDER BY bucket_ts)), " +
          "y AS (SELECT symbol, bucket_ts, " +
          "CAST(CAST((CAST(high AS DECIMAL(18,2)) + CAST(low AS DECIMAL(18,2)) - CAST(ph AS DECIMAL(18,2)) - CAST(pl AS DECIMAL(18,2))) * 100 AS BIGINT) * " +
          "CAST((CAST(high AS DECIMAL(18,2)) - CAST(low AS DECIMAL(18,2))) * 100 AS BIGINT) * 100000000 AS BIGINT) AS nn, " +
          "2 * CAST(CAST(volume AS DECIMAL(18,2)) * 100 AS BIGINT) AS dd " +
          "FROM x WHERE ph IS NOT NULL AND volume > 0), " +
          "m AS (SELECT symbol, bucket_ts, CASE WHEN nn >= 0 THEN (2 * nn + dd) // (2 * dd) " +
          "ELSE -((2 * -nn + dd) // (2 * dd)) END AS micro FROM y), " +
          "z AS (SELECT symbol, bucket_ts, CAST(sum(micro) OVER w AS BIGINT) AS st, count(*) OVER w AS cnt " +
          "FROM m WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, CAST(CASE WHEN st >= 0 THEN (2 * st + 14) // 28 " +
          "ELSE -((2 * -st + 14) // 28) END AS DOUBLE) / 1000000.0 AS emv FROM z WHERE cnt = 14")),
    Query("chandelier_exit", (s, dir) =>
      // ATR-scaled trailing stops off the 22-bar extremes; exact decimal
      // TR sums, pick extremes, fixed-order stop arithmetic
      Analytics.chandelierExit(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Chandelier replay: pick extremes + exact decimal TR sums, identical
      // stop arithmetic
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, high, low, " +
          "greatest(CAST(high AS DECIMAL(18,2)) - CAST(low AS DECIMAL(18,2)), " +
          "abs(CAST(high AS DECIMAL(18,2)) - CAST(pc AS DECIMAL(18,2))), " +
          "abs(CAST(low AS DECIMAL(18,2)) - CAST(pc AS DECIMAL(18,2)))) AS tr " +
          "FROM (SELECT symbol, bucket_ts, high, low, lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ts) AS pc FROM c) " +
          "WHERE pc IS NOT NULL), " +
          "z AS (SELECT symbol, bucket_ts, max(high) OVER w AS hh, min(low) OVER w AS ll, " +
          "CAST(sum(tr) OVER w AS DECIMAL(38,2)) AS str, count(*) OVER w AS cnt " +
          "FROM x WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 21 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, " +
          "round(hh - 3.0 * (CAST(str AS DOUBLE) / 22.0), 6) AS long_stop, " +
          "round(ll + 3.0 * (CAST(str AS DOUBLE) / 22.0), 6) AS short_stop FROM z WHERE cnt = 22")),
    Query("tsi", (s, dir) =>
      // Blau's True Strength Index: chained double-EMA of momentum and
      // |momentum| in one four-state sweep; recursive-CTE oracle
      Analytics.tsi(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // CMO replay: rounded up/down decimal frame sums, one double division
      // TSI replay: the chained four-state fold as a recursive CTE with the
      // fresh inner EMAs textually substituted; alphas spelled as the same
      // double divisions, complements 1.0 - alpha (the trix spelling)
      {
        val EMI = "((2.0 / 26.0) * ms[j + 1] + (1.0 - (2.0 / 26.0)) * emi)"
        val EMO = s"((2.0 / 14.0) * $EMI + (1.0 - (2.0 / 14.0)) * emo)"
        val EAI = "((2.0 / 26.0) * abs(ms[j + 1]) + (1.0 - (2.0 / 26.0)) * eai)"
        val EAO = s"((2.0 / 14.0) * $EAI + (1.0 - (2.0 / 14.0)) * eao)"
        s"WITH RECURSIVE t AS ($TradesSql), c AS (${candlesSql(3600000000L)}), " +
          "d AS (SELECT symbol, bucket_ts, round(close - lag(close) OVER " +
          "(PARTITION BY symbol ORDER BY bucket_ts), 2) AS m FROM c), " +
          "e AS (SELECT symbol, bucket_ts, m FROM d WHERE m IS NOT NULL), " +
          "per AS (SELECT symbol, list(m ORDER BY bucket_ts) AS ms, " +
          "list(bucket_ts ORDER BY bucket_ts) AS tss FROM e GROUP BY 1), " +
          "r AS (SELECT symbol, 1 AS j, CAST(ms[1] AS DOUBLE) AS emi, " +
          "CAST(ms[1] AS DOUBLE) AS emo, abs(CAST(ms[1] AS DOUBLE)) AS eai, " +
          "abs(CAST(ms[1] AS DOUBLE)) AS eao, ms, tss FROM per " +
          s"UNION ALL SELECT symbol, j + 1, $EMI, $EMO, $EAI, $EAO, ms, tss FROM r WHERE j < len(ms)) " +
          "SELECT symbol, tss[j] AS bucket_ts, " +
          "CASE WHEN eao <> 0.0 THEN round(100.0 * (emo / eao), 6) END AS tsi FROM r"
      }),
    Query("fisher_transform", (s, dir) =>
      // Ehlers Fisher transform: range position + two damped recursions
      // in one sweep with an n-deep midpoint ring (no post-sweep window)
      Analytics.fisherTransform(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Fisher replay: rolling min/max windows gate full frames, then the
      // two damped recursions with the fresh CLAMPED value substituted
      // into the ln
      {
        def valj(x: String, prev: String) =
          s"greatest(-0.999, least(0.999, 0.33 * $x + 0.67 * $prev))"
        val V1 = valj("xs[1]", "0.0")
        val VJ = valj("xs[j + 1]", "val")
        s"WITH RECURSIVE t AS ($TradesSql), c AS (${candlesSql(3600000000L)}), " +
          "w1 AS (SELECT symbol, bucket_ts, (high + low) / 2.0 AS mid FROM c), " +
          "w2 AS (SELECT symbol, bucket_ts, mid, min(mid) OVER wf AS mn, " +
          "max(mid) OVER wf AS mx, count(*) OVER wf AS cnt FROM w1 " +
          "WINDOW wf AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)), " +
          "f AS (SELECT symbol, bucket_ts, CASE WHEN mx <> mn THEN " +
          "2.0 * ((mid - mn) / (mx - mn)) - 1.0 ELSE 0.0 END AS x FROM w2 WHERE cnt = 10), " +
          "per AS (SELECT symbol, list(x ORDER BY bucket_ts) AS xs, " +
          "list(bucket_ts ORDER BY bucket_ts) AS tss FROM f GROUP BY 1), " +
          s"r AS (SELECT symbol, 1 AS j, $V1 AS val, " +
          s"0.5 * ln((1.0 + $V1) / (1.0 - $V1)) + 0.5 * 0.0 AS fish, " +
          "CAST(NULL AS DOUBLE) AS fishp, xs, tss FROM per " +
          s"UNION ALL SELECT symbol, j + 1, $VJ, " +
          s"0.5 * ln((1.0 + $VJ) / (1.0 - $VJ)) + 0.5 * fish, fish, xs, tss " +
          "FROM r WHERE j < len(xs)) " +
          "SELECT symbol, tss[j] AS bucket_ts, round(fish, 6) AS fisher, " +
          "round(fishp, 6) AS fisher_signal FROM r"
      }),
    Query("alligator", (s, dir) =>
      // Williams alligator: three SMMA folds + forward displacement via
      // shift-deep rings, all in ONE sweep
      Analytics.alligator(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Alligator replay: three independent SMMA folds in one recursion,
      // forward displacement via window lags over the fold output
      s"WITH RECURSIVE t AS ($TradesSql), c AS (${candlesSql(3600000000L)}), " +
        "per AS (SELECT symbol, list(close ORDER BY bucket_ts) AS cs, " +
        "list(bucket_ts ORDER BY bucket_ts) AS tss FROM c GROUP BY 1), " +
        "r AS (SELECT symbol, 1 AS j, CAST(cs[1] AS DOUBLE) AS vj, " +
        "CAST(cs[1] AS DOUBLE) AS vt, CAST(cs[1] AS DOUBLE) AS vl, cs, tss FROM per " +
        "UNION ALL SELECT symbol, j + 1, " +
        "((1.0 / 13.0) * cs[j + 1] + (1.0 - (1.0 / 13.0)) * vj), " +
        "((1.0 / 8.0) * cs[j + 1] + (1.0 - (1.0 / 8.0)) * vt), " +
        "((1.0 / 5.0) * cs[j + 1] + (1.0 - (1.0 / 5.0)) * vl), cs, tss " +
        "FROM r WHERE j < len(cs)) " +
        "SELECT symbol, tss[j] AS bucket_ts, " +
        "lag(vj, 8) OVER w AS jaw, lag(vt, 5) OVER w AS teeth, " +
        "lag(vl, 3) OVER w AS lips FROM r " +
        "WINDOW w AS (PARTITION BY symbol ORDER BY j)"),
    Query("fractals", (s, dir) =>
      // Bill Williams swing points: strict 2-side high/low comparisons on
      // one symbol window — pure exact-price logic, no float hazards
      Analytics.fractals(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Fractals replay: strict comparisons against 2 lags + 2 leads of
      // exact 2-decimal prices, both-side-defined gate
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, high, low, " +
          "lag(high, 1) OVER w AS ph1, lag(high, 2) OVER w AS ph2, " +
          "lead(high, 1) OVER w AS nh1, lead(high, 2) OVER w AS nh2, " +
          "lag(low, 1) OVER w AS pl1, lag(low, 2) OVER w AS pl2, " +
          "lead(low, 1) OVER w AS nl1, lead(low, 2) OVER w AS nl2 " +
          "FROM c WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts)) " +
          "SELECT symbol, bucket_ts, high, low, " +
          "(high > ph1 AND high > nh1 AND high > ph2 AND high > nh2) AS up_fractal, " +
          "(low < pl1 AND low < nl1 AND low < pl2 AND low < nl2) AS down_fractal " +
          "FROM x WHERE ph1 IS NOT NULL AND nh1 IS NOT NULL AND ph2 IS NOT NULL AND nh2 IS NOT NULL " +
          "AND ((high > ph1 AND high > nh1 AND high > ph2 AND high > nh2) " +
          "OR (low < pl1 AND low < nl1 AND low < pl2 AND low < nl2))")),
    Query("awesome_osc", (s, dir) =>
      // SMA5(mid) - SMA34(mid) with the /2 and /n folded into two double
      // divisions of exact decimal high+low frame sums
      Analytics.awesomeOsc(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // Awesome-oscillator replay: exact decimal high+low frame sums, the
      // /2 and /n folded into two double divisions, one subtraction
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "z AS (SELECT symbol, bucket_ts, " +
          "sum(CAST(high AS DECIMAL(18,2)) + CAST(low AS DECIMAL(18,2))) OVER w1 AS s1, " +
          "sum(CAST(high AS DECIMAL(18,2)) + CAST(low AS DECIMAL(18,2))) OVER w2 AS s2, " +
          "count(*) OVER w2 AS cnt FROM c " +
          "WINDOW w1 AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), " +
          "w2 AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 33 PRECEDING AND CURRENT ROW)) " +
          "SELECT symbol, bucket_ts, " +
          "round(CAST(s1 AS DOUBLE) / 10.0 - CAST(s2 AS DOUBLE) / 68.0, 6) AS awesome_osc " +
          "FROM z WHERE cnt = 34")),
    Query("kst", (s, dir) =>
      // Pring's Know Sure Thing: four smoothed ROC horizons blended
      // 1:2:3:4 — all lags and frames on ONE symbol partitioning
      Analytics.kst(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // KST replay: four 6-rounded decimal ROCs, exact frame sums over
      // literal lengths, the 1:2:3:4 blend in identical double op order
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, close, " +
          "lag(close, 10) OVER w AS c10, lag(close, 15) OVER w AS c15, " +
          "lag(close, 20) OVER w AS c20, lag(close, 30) OVER w AS c30, " +
          "lag(close, 44) OVER w AS gate " +
          "FROM c WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts)), " +
          "y AS (SELECT symbol, bucket_ts, gate, " +
          "CAST(round(100.0 * (close / (CASE WHEN c10 <> 0 THEN c10 END) - 1.0), 6) AS DECIMAL(18,6)) AS r1, " +
          "CAST(round(100.0 * (close / (CASE WHEN c15 <> 0 THEN c15 END) - 1.0), 6) AS DECIMAL(18,6)) AS r2, " +
          "CAST(round(100.0 * (close / (CASE WHEN c20 <> 0 THEN c20 END) - 1.0), 6) AS DECIMAL(18,6)) AS r3, " +
          "CAST(round(100.0 * (close / (CASE WHEN c30 <> 0 THEN c30 END) - 1.0), 6) AS DECIMAL(18,6)) AS r4 " +
          "FROM x), " +
          "z AS (SELECT symbol, bucket_ts, gate, " +
          "CAST(sum(r1) OVER wa * 1000000 AS BIGINT) AS u1, " +
          "CAST(sum(r2) OVER wa * 1000000 AS BIGINT) AS u2, " +
          "CAST(sum(r3) OVER wa * 1000000 AS BIGINT) AS u3, " +
          "CAST(sum(r4) OVER wb * 1000000 AS BIGINT) AS u4 FROM y " +
          "WINDOW wa AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), " +
          "wb AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)), " +
          "k AS (SELECT symbol, bucket_ts, 3 * u1 + 6 * u2 + 9 * u3 + 8 * u4 AS nmicro " +
          "FROM z WHERE gate IS NOT NULL) " +
          "SELECT symbol, bucket_ts, " +
          "CAST(CASE WHEN nmicro >= 0 THEN (2 * nmicro + 30) // 60 " +
          "ELSE -((2 * -nmicro + 30) // 60) END AS DOUBLE) / 1000000.0 AS kst FROM k")),
    Query("rvi", (s, dir) =>
      // Relative Vigor Index: the /6 cancels in the ratio so both SWMA
      // frame sums stay exact decimals; signal line on rounded doubles
      Analytics.rvi(Candles.fromTrades(Tables.trades(s, dir), Tf1h)),
      // RVI replay: integer-weighted exact decimal SWMA terms (the /6
      // cancels in the ratio), one double division, signal line over the
      // surviving rows' rounded doubles
      withTrades(
        s", c AS (${candlesSql(3600000000L)}), " +
          "x AS (SELECT symbol, bucket_ts, " +
          "CAST(round(close - open, 2) AS DECIMAL(18,2)) AS co, " +
          "CAST(round(high - low, 2) AS DECIMAL(18,2)) AS hl FROM c), " +
          "y AS (SELECT symbol, bucket_ts, " +
          "co + 2 * lag(co, 1) OVER w + 2 * lag(co, 2) OVER w + lag(co, 3) OVER w AS wn, " +
          "hl + 2 * lag(hl, 1) OVER w + 2 * lag(hl, 2) OVER w + lag(hl, 3) OVER w AS wd " +
          "FROM x WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts)), " +
          "f AS (SELECT * FROM y WHERE wd IS NOT NULL), " +
          "z AS (SELECT symbol, bucket_ts, CAST(sum(wn) OVER wf AS DECIMAL(38,2)) AS snum, " +
          "CAST(sum(wd) OVER wf AS DECIMAL(38,2)) AS sden, count(*) OVER wf AS cnt FROM f " +
          "WINDOW wf AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)), " +
          "g AS (SELECT symbol, bucket_ts, " +
          "round(CAST(snum AS DOUBLE) / (CASE WHEN sden <> 0 THEN CAST(sden AS DOUBLE) END), 6) AS rvi " +
          "FROM z WHERE cnt = 10), " +
          "h AS (SELECT symbol, bucket_ts, rvi, " +
          "CAST(CAST(rvi AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS rm FROM g), " +
          "i AS (SELECT symbol, bucket_ts, rvi, " +
          "rm + 2 * lag(rm, 1) OVER w2 + 2 * lag(rm, 2) OVER w2 + lag(rm, 3) OVER w2 AS nmicro " +
          "FROM h WINDOW w2 AS (PARTITION BY symbol ORDER BY bucket_ts)) " +
          "SELECT symbol, bucket_ts, rvi, " +
          "CAST(CASE WHEN nmicro >= 0 THEN (2 * nmicro + 6) // 12 " +
          "ELSE -((2 * -nmicro + 6) // 12) END AS DOUBLE) / 1000000.0 AS rvi_signal FROM i"))
  )
}
