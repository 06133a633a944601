package graft.ohlcv

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Market analytics over candle/trade streams — the queries users of a
  * candle store (the reference's SQLite output) actually run.
  *
  * Scale notes: everything here is either a single hash aggregation or a
  * single window over (symbol) — one shuffle on the symbol key; frames are
  * bounded; no self-joins. Float determinism follows the SparkEntry rules:
  * sums go through DECIMAL(18,2); picks/differences/divisions stay IEEE
  * double (bit-identical across engines given identical inputs).
  */
object Analytics {

  private val D = DecimalType(18, 2)

  /** The routing every per-symbol sweep shares: each symbol's rows in one
    * partition, in bucket order, so `mapPartitions` walks a series once.
    */
  private[ohlcv] def perSymbolSweep[T](ds: Dataset[T]): Dataset[T] =
    ds.repartition(col("symbol")).sortWithinPartitions(col("symbol"), col("bucket_ts"))

  /** Per symbol/day volume-weighted average price. */
  def vwap(trades: DataFrame): DataFrame =
    trades
      .groupBy(col("symbol"), date_trunc("day", col("ts")).as("day"))
      .agg(
        sum(col("price").cast(D) * col("qty").cast(D)).cast("double").as("sum_pv"),
        sum(col("qty").cast(D)).cast("double").as("sum_qty"))
      .where(col("sum_qty") > 0)
      .select(col("symbol"), col("day"),
        (col("sum_pv") / col("sum_qty")).as("vwap"), col("sum_qty"))

  /** n-bucket simple moving average of close per symbol. Decimal sum over
    * the sliding frame (order-insensitive), double division by the frame
    * row count.
    */
  def sma(candles: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(-(n - 1), 0)
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .withColumn("sma",
        sum(col("close").cast(D)).over(w).cast("double") /
          count(lit(1)).over(w).cast("double"))
  }

  /** Bollinger bands (n-bucket mean ± 2σ) per symbol, full frames only.
    * Determinism: sum(x) and sum(x²) go through exact decimals (prices
    * have 2 decimals ⇒ squares have 4 ⇒ DECIMAL(28,4) is exact), variance
    * is then pure double arithmetic — bit-identical across engines.
    */
  def bollinger(candles: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(-(n - 1), 0)
    val d4 = DecimalType(28, 4)
    val sumC = sum(col("close").cast(D)).over(w).cast("double")
    val sumC2 = sum((col("close").cast(D) * col("close").cast(D)).cast(d4))
      .over(w).cast("double")
    val cnt = count(lit(1)).over(w)
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .withColumn("cnt", cnt)
      .withColumn("mean", sumC / col("cnt").cast("double"))
      .withColumn("var",
        greatest((sumC2 - sumC * sumC / col("cnt").cast("double")) /
          (col("cnt") - 1).cast("double"), lit(0.0)))
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"), col("close"), col("mean"),
        (col("mean") + lit(2.0) * sqrt(col("var"))).as("upper"),
        (col("mean") - lit(2.0) * sqrt(col("var"))).as("lower"))
  }

  /** Relative Strength Index over n buckets (full frames only; RSI=100
    * when there are no losses in the frame). Gains/losses are exact
    * decimals; the final ratio is plain double arithmetic.
    */
  def rsi(candles: DataFrame, n: Int): DataFrame = {
    val wl = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val wf = wl.rowsBetween(-(n - 1), 0)
    val diff = (col("close").cast(D) - col("prev").cast(D))
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .withColumn("prev", lag(col("close"), 1).over(wl))
      .where(col("prev").isNotNull)
      .withColumn("gain", greatest(diff, lit(0).cast(D)))
      .withColumn("loss", greatest(-diff, lit(0).cast(D)))
      .withColumn("sum_gain", sum(col("gain")).over(wf).cast("double"))
      .withColumn("sum_loss", sum(col("loss")).over(wf).cast("double"))
      .withColumn("cnt", count(lit(1)).over(wf))
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"),
        round(when(col("sum_loss") === 0.0, lit(100.0))
          .otherwise(lit(100.0) - lit(100.0) /
            (lit(1.0) + col("sum_gain") / col("sum_loss"))), 6).as("rsi"))
  }

  /** Average True Range over n buckets (full frames only). True range
    * components are exact decimals (2-dec prices), the frame average is an
    * exact decimal sum over a double count.
    */
  def atr(candles: DataFrame, n: Int): DataFrame = {
    val wl = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val wf = wl.rowsBetween(-(n - 1), 0)
    val tr = greatest(
      col("high").cast(D) - col("low").cast(D),
      abs(col("high").cast(D) - col("prev_close").cast(D)),
      abs(col("low").cast(D) - col("prev_close").cast(D)))
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"), col("close"))
      .withColumn("prev_close", lag(col("close"), 1).over(wl))
      .where(col("prev_close").isNotNull)
      .withColumn("tr", tr)
      .withColumn("cnt", count(lit(1)).over(wf))
      .withColumn("atr",
        round(sum(col("tr")).over(wf).cast("double") / col("cnt").cast("double"), 6))
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"), col("tr").cast("double").as("tr"), col("atr"))
  }

  /** Per-symbol maximum drawdown: running-peak close vs close, as a ratio
    * (rounded: final double division crosses engines).
    */
  def maxDrawdown(candles: DataFrame): DataFrame = {
    val run = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .withColumn("peak", max(col("close")).over(run))
      .withColumn("drawdown", round((col("close") - col("peak")) /
        when(col("peak") =!= 0, col("peak")), 6))
      .groupBy(col("symbol"))
      .agg(min(col("drawdown")).as("max_drawdown"),
        max(col("peak")).as("peak_close"))
  }

  /** Drawdown curve: per bucket, the running peak close, the drawdown
    * from it, and the underwater flag — the full series behind
    * `maxDrawdown`'s scalar (risk dashboards plot this). One running-max
    * window per symbol, O(1) state.
    */
  def drawdownCurve(candles: DataFrame): DataFrame = {
    val run = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .withColumn("peak", max(col("close")).over(run))
      .withColumn("drawdown", round((col("close") - col("peak")) /
        when(col("peak") =!= 0, col("peak")), 6))
      .withColumn("underwater", col("close") < col("peak"))
  }

  /** Volume profile: traded volume binned into 20 price bands per symbol
    * (support/resistance analysis). Band edges come from a per-symbol
    * min/max aggregate broadcast back — two aggregations, one broadcast
    * join, no window; the trade scan is shared by both passes via a
    * lineage cut.
    */
  def volumeProfile(trades: DataFrame, bands: Int = 20): DataFrame = {
    val t = graft.core.Materialize.once(
      trades.select(col("symbol"), col("price"), col("qty")))
    val rng = t.groupBy(col("symbol"))
      .agg(min(col("price")).as("lo"), max(col("price")).as("hi"))
    t.join(broadcast(rng), "symbol")
      .withColumn("band", when(col("hi") === col("lo"), lit(0L))
        .otherwise(least(floor((col("price") - col("lo")) /
          ((col("hi") - col("lo")) / lit(bands.toDouble))), lit(bands - 1.0)).cast("long")))
      .groupBy(col("symbol"), col("band"))
      .agg(count(lit(1)).as("n_trades"),
        sum(col("qty").cast(D)).cast("double").as("volume"))
  }

  /** On-balance volume: cumulative volume signed by close direction.
    * Fully exact — sign comes from decimal close diffs, the cumulative
    * sum is decimal.
    */
  def obv(candles: DataFrame): DataFrame = {
    val wl = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val run = wl.rowsBetween(Window.unboundedPreceding, 0)
    val diff = col("close").cast(D) - col("prev").cast(D)
    candles.select(col("symbol"), col("bucket_ts"), col("close"), col("volume"))
      .withColumn("prev", lag(col("close"), 1).over(wl))
      .withColumn("signed_vol",
        when(col("prev").isNull || diff === lit(0).cast(D), lit(0).cast(D))
          .when(diff > lit(0).cast(D), col("volume").cast(D))
          .otherwise(-col("volume").cast(D)))
      .withColumn("obv", sum(col("signed_vol")).over(run).cast("double"))
      .select(col("symbol"), col("bucket_ts"), col("obv"))
  }

  /** ACCUMULATION/DISTRIBUTION line per symbol — obv's range-aware sibling:
    * each candle contributes volume weighted by WHERE it closed in its own
    * range (CLV = ((close−low) − (high−close))/(high−low) ∈ [−1, 1]), so a
    * high-volume candle closing mid-range moves the line less than one
    * closing on its extreme — the money-flow divergence signal obv's
    * all-or-nothing sign can't give. CLV rounds to 6 into DECIMAL(9,6),
    * the money-flow volume term is an exact decimal product, and the
    * running line is an exact-decimal cumulative sum (order-exact in both
    * engines), surfaced as double. Zero-range candles contribute 0 (no
    * close position exists — the standard convention). ONE window shuffle.
    */
  def adl(candles: DataFrame): DataFrame = {
    val run = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val clv = round(((col("close") - col("low")) - (col("high") - col("close"))) /
      when(col("high") =!= col("low"), col("high") - col("low")), 6)
    val mfv = (coalesce(clv, lit(0.0)).cast(DecimalType(9, 6)) *
      col("volume").cast(D)).cast(DecimalType(28, 8))
    candles.select(col("symbol"), col("bucket_ts"), mfv.as("mfv"))
      .withColumn("adl", sum(col("mfv")).over(run).cast("double"))
      .select(col("symbol"), col("bucket_ts"), col("adl"))
  }

  /** CHAIKIN OSCILLATOR per symbol — EMA(3) − EMA(10) of the
    * accumulation/distribution line: the momentum-of-money-flow signal
    * (the oscillator crossing zero flags accumulation turning to
    * distribution before price confirms). The two EMAs are the ema-family
    * sequential recursion (seed = the first ADL value, the list_reduce
    * convention), run in ONE per-symbol sweep carrying both states —
    * O(1) memory, fixed double op order with α₃ = 0.5 (exact complement)
    * and α₁₀ spelled 2.0/11.0 so the oracle folds the same literals;
    * rounding at emission only. Upstream ADL is the exact-decimal line.
    */
  def chaikinOsc(candles: DataFrame): DataFrame = {
    val spark = candles.sparkSession
    import spark.implicits._
    val a3 = 0.5; val b3 = 1.0 - 0.5
    val a10 = 2.0 / 11.0; val b10 = 1.0 - 2.0 / 11.0
    adl(candles)
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var e3 = 0.0; var e10 = 0.0
        it.map { case (s, t, x) =>
          if (s != cur) { cur = s; e3 = x; e10 = x }
          else { e3 = a3 * x + b3 * e3; e10 = a10 * x + b10 * e10 }
          (s, t, x, e3, e10)
        }
      }
      .toDF("symbol", "bucket_ts", "adl", "e3", "e10")
      .select(col("symbol"), col("bucket_ts"), col("adl"),
        round(col("e3") - col("e10"), 6).as("chaikin_osc"))
  }

  /** Close-to-close percentage returns per symbol. */
  def returns(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .where(col("prev_close").isNotNull)
      // null-guarded divisor: a degenerate zero price yields null return
      // instead of an ANSI DIVIDE_BY_ZERO killing the job
      .withColumn("ret", (col("close") - col("prev_close")) /
        when(col("prev_close") =!= 0, col("prev_close")))
  }

  /** Rolling return volatility (sample stddev of simple returns over the
    * trailing `n` buckets; full frames only) — the realized-volatility
    * series every risk/regime model consumes. Same deterministic shape as
    * `bollinger`: the two moments go through exact decimal window sums
    * (order-insensitive, engine-replayable), only the final
    * variance→sqrt is double, rounded to 6 decimals. One bounded window
    * per symbol — one shuffle, O(1) state per row.
    */
  def rollingVol(candles: DataFrame, n: Int = 24): DataFrame = {
    val dr = DecimalType(18, 12)
    val dr2 = DecimalType(38, 24)
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(-(n - 1), 0)
    val sumR = sum(col("ret").cast(dr)).over(w).cast("double")
    val sumR2 = sum((col("ret").cast(dr) * col("ret").cast(dr)).cast(dr2))
      .over(w).cast("double")
    returns(candles).select(col("symbol"), col("bucket_ts"), col("ret"))
      .withColumn("cnt", count(col("ret")).over(w))
      .withColumn("sum_r", sumR)
      .withColumn("sum_r2", sumR2)
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"),
        round(sqrt(greatest(
          (col("sum_r2") - col("sum_r") * col("sum_r") / col("cnt").cast("double")) /
            (col("cnt") - 1).cast("double"), lit(0.0))), 6).as("vol"))
  }

  /** Exponential moving average — inherently sequential per symbol, so:
    * one shuffle (repartition by symbol), in-partition sort, then a single
    * O(n) sweep per partition. No window-function state blowup; at 100 TB
    * each symbol's history streams through exactly one task.
    */
  def ema(candles: DataFrame, n: Int): DataFrame = {
    val alpha = 2.0 / (n + 1)
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var e = 0.0
        it.map { case (s, t, c) =>
          if (s != cur) { cur = s; e = c }
          else e = alpha * c + (1 - alpha) * e
          (s, t, c, e)
        }
      }
      .toDF("symbol", "bucket_ts", "close", "ema")
  }

  /** Classical additive SEASONAL DECOMPOSITION of the hourly close:
    * close = trend + seasonal + residual — trend as the CENTERED 24-bucket
    * moving average (full frames only, the textbook construction),
    * seasonal as the per-(symbol, hour-of-day) mean deviation from trend,
    * residual as what remains. The de-seasonalized residual is the input
    * every anomaly detector actually wants; the seasonal profile is the
    * hour-of-day fingerprint hourlyProfile only approximates from raw
    * volume.
    *
    * Scale shape: ONE bounded per-symbol window (the centered MA), one
    * dim-scale aggregation (24 rows per symbol), one broadcast join back.
    * Determinism: the MA is an exact DECIMAL(18,2) window sum / 24; the
    * seasonal mean sums per-row deviations rounded to 6 in exact
    * DECIMAL(18,6); finals round at emission.
    */
  def seasonalDecompose(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(-12, 11)
    // both window aggregates share ONE Window node (same spec, same
    // select); the frame feeds two branches (seasonal means + the final
    // join), so it is CUT once — without the cut Catalyst duplicates the
    // whole candle+window subtree per branch and the corpus is scanned
    // twice (the q15/q11 ReuseExchange lesson, re-measured here)
    val base = graft.core.Materialize.once(candles
      .select(col("symbol"), col("bucket_ts"), col("close"),
        count(lit(1)).over(w).as("cnt"),
        sum(col("close").cast(DecimalType(18, 2))).over(w).as("tsum"))
      .where(col("cnt") === 24)
      .withColumn("trend", col("tsum").cast("double") / lit(24.0))
      .withColumn("detr", col("close") - col("trend"))
      .withColumn("hod", hour(col("bucket_ts")).cast("long")))
    // The seasonal MEAN (Σ detr / count) can land EXACTLY on a 6-decimal
    // half-way point (6dp-quantized numerators over small counts make
    // halves common, not rare — measured at sf0.001), where the engines'
    // double round() disagree by 1 ulp of the 6th decimal. So the mean is
    // rounded in INTEGER micro-units with explicit half-away-from-zero
    // division — bit-identical in any engine: N = exact Σ in micros
    // (decimal-sum × 10⁶, exact), s = ±⌊(2|N| + C) / 2C⌋ (operands kept
    // non-negative so truncating and flooring division agree). The trend
    // needs no such treatment: trend·10⁶ has denominator 24, provably
    // ≥ 1/24 from any half-integer. Residual subtracts in the same
    // integer space; the only float op per output value is one final
    // ÷ 10⁶, identical in both engines.
    val d6 = DecimalType(18, 6)
    val seas = base.groupBy(col("symbol"), col("hod"))
      .agg((sum(round(col("detr"), 6).cast(d6)) * lit(1000000)).cast("long").as("n_micros"),
        count(lit(1)).as("c"))
      .withColumn("s_micros",
        when(col("n_micros") >= 0, expr("(2 * n_micros + c) div (2 * c)"))
          .otherwise(-expr("(2 * (-n_micros) + c) div (2 * c)")))
    val closeM = (round(col("close"), 6).cast(d6) * lit(1000000)).cast("long")
    val trendM = (round(col("trend"), 6).cast(d6) * lit(1000000)).cast("long")
    base.join(broadcast(seas), Seq("symbol", "hod"))
      .select(col("symbol"), col("bucket_ts"), col("close"),
        round(col("trend"), 6).as("trend"),
        (col("s_micros") / lit(1000000.0)).as("seasonal"),
        ((closeM - trendM - col("s_micros")) / lit(1000000.0)).as("residual"))
  }

  /** Holt double-exponential smoothing (level + trend) per symbol, with
    * the one-step-ahead forecast l+b — the first-line baseline forecaster
    * for any metric/price series, and the state-space shape (recursive
    * level/trend) a window function cannot express. Same scale recipe as
    * `ema`/`macd`: the recurrence is inherently sequential PER SYMBOL, so
    * one shuffle (repartition by symbol), in-partition sort, one O(n)
    * sweep with O(1) state; each symbol's history streams through exactly
    * one task and symbols parallelize freely.
    *
    * Determinism: the recursion runs on UNROUNDED doubles in a fixed
    * operation order (a·c + (1−a)·(l+b); g·(Δl) + (1−g)·b) that the
    * DuckDB oracle replays verbatim via a recursive CTE over per-symbol
    * ordered close arrays; rounding happens at emission only. The default
    * α=0.5 / γ=0.3 are chosen with exactly-representable complements
    * (1−α, 1−γ are exact doubles), so both engines fold bit-identically.
    * Seeding: l₀ = first close, b₀ = 0 (the standard convention).
    */
  def holt(candles: DataFrame, alpha: Double = 0.5, gamma: Double = 0.3): DataFrame = {
    val a = alpha; val oneA = 1 - alpha
    val g = gamma; val oneG = 1 - gamma
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var l = 0.0
        var b = 0.0
        it.map { case (s, t, c) =>
          if (s != cur) { cur = s; l = c; b = 0.0 }
          else {
            val nl = a * c + oneA * (l + b)
            val nb = g * (nl - l) + oneG * b
            l = nl; b = nb
          }
          (s, t, c, l, b, l + b)
        }
      }
      .toDF("symbol", "bucket_ts", "close", "level", "trend", "forecast")
      .select(col("symbol"), col("bucket_ts"), col("close"),
        round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("forecast"), 6).as("forecast"))
  }

  /** HURST EXPONENT per symbol by the aggregated-variance method: the
    * log-log slope of Var(r_k) against lag k over k ∈ {1,2,4,8,16},
    * H = slope/2 — the standard long-memory screen (H ≈ 0.5 random walk,
    * > 0.5 trending, < 0.5 mean-reverting). ONE lag window computes all
    * five k-step log returns (the autocorrelation recipe), one
    * aggregation computes all five variance pairs via exact decimal
    * co-moments, and the 5-point OLS runs on DOUBLES SUMMED AS EXACT
    * DECIMALS (even 5 floating terms reorder across partitions). The
    * log-k axis uses literal multiples of ln 2 (k is a power of two), so
    * no engine's libm ln(2) enters the compare — the range_vol argument.
    */
  def hurst(candles: DataFrame, maxPow: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val ks = (0 to maxPow).map(1 << _) // 1,2,4,8,16
    val ln2 = 0.6931471805599453
    val lagged = candles.select(
      Seq(col("symbol"), col("close")) ++
        ks.map(k => lag(col("close"), k).over(w).as(s"p$k")): _*)
    val aggs = ks.flatMap { k =>
      val r = when(col("close") > 0 && col(s"p$k") > 0,
        round(log(col("close") / col(s"p$k")), 6)).cast(DecimalType(9, 6))
      Seq(count(r).as(s"n$k"),
        sum(r).cast("double").as(s"s1_$k"),
        sum((r * r).cast(DecimalType(18, 12))).cast("double").as(s"s2_$k"))
    }
    val perK = lagged.groupBy(col("symbol"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("symbol"), explode(array(ks.zipWithIndex.map { case (k, i) =>
        struct(lit(i).cast("long").as("i"), col(s"n$k").as("n"),
          col(s"s1_$k").as("s1"), col(s"s2_$k").as("s2"))
      }: _*)).as("e"))
      .select(col("symbol"), col("e.i").as("i"), col("e.n").as("n"),
        col("e.s1").as("s1"), col("e.s2").as("s2"))
      .where(col("n") >= 2)
      .withColumn("nd", col("n").cast("double"))
      .withColumn("v", col("s2") / col("nd") -
        (col("s1") / col("nd")) * (col("s1") / col("nd")))
      .where(col("v") > 0)
      .withColumn("x", col("i").cast("double") * lit(ln2))
      .withColumn("y", round(log(col("v")), 6))
    val d12 = DecimalType(18, 12)
    perK.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_scales"),
        sum(round(col("x"), 12).cast(d12)).cast("double").as("sx"),
        sum(round(col("y"), 6).cast(d12)).cast("double").as("sy"),
        sum(round(col("x") * col("x"), 12).cast(d12)).cast("double").as("sxx"),
        sum(round(col("x") * col("y"), 12).cast(d12)).cast("double").as("sxy"))
      .where(col("n_scales") >= 3)
      .withColumn("nd", col("n_scales").cast("double"))
      .withColumn("den", col("nd") * col("sxx") - col("sx") * col("sx"))
      .select(col("symbol"), col("n_scales"),
        round((col("nd") * col("sxy") - col("sx") * col("sy")) /
          when(col("den") =!= 0, col("den")) / lit(2.0), 6).as("hurst"))
  }

  /** Historical VALUE-AT-RISK + EXPECTED SHORTFALL per symbol at the 5%
    * tail: VaR = the interpolated 5th-percentile return, ES = the mean of
    * returns at-or-below VaR — the coherent tail-risk pair (ES is what
    * Basel moved to when VaR's non-subadditivity bit). Returns are
    * quantized to integer MICRO-units before any statistic (the
    * session_percentiles recipe: interpolation over integers + round-to-0
    * is engine-stable where raw-double interpolation is a last-ulp
    * lottery), the tail filter compares integers, ES is exact integer
    * sums with two identical final divisions. The returns frame feeds the
    * percentile and the tail scan, so it is cut once.
    */
  def varEs(candles: DataFrame, p: Double = 0.05): DataFrame = {
    val r = graft.core.Materialize.once(
      returns(candles).where(col("ret").isNotNull)
        .select(col("symbol"),
          (round(col("ret"), 6).cast(DecimalType(18, 6)) * lit(1000000))
            .cast("long").as("rm")))
    val v = r.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        round(expr(s"percentile(rm, $p)"), 0).cast("long").as("var_micro"))
    r.join(broadcast(v), Seq("symbol"))
      .where(col("rm") <= col("var_micro"))
      .groupBy(col("symbol"), col("n"), col("var_micro"))
      .agg(sum(col("rm")).as("tail_sum"), count(lit(1)).as("n_tail"))
      .select(col("symbol"), col("n"),
        (col("var_micro") / lit(1000000.0)).as("var_ret"),
        ((col("tail_sum").cast("double") / col("n_tail").cast("double")) /
          lit(1000000.0)).as("es_ret"),
        col("n_tail"))
  }

  /** RiskMetrics EWMA volatility per symbol: σ²_t = λ·σ²_{t−1} + (1−λ)·r²_t
    * with λ = 0.94 (the J.P. Morgan 1996 daily-decay standard) — the
    * responsive volatility estimate rollingVol's equal-weight window
    * cannot give (EWMA reacts to regime shifts in days, not window
    * lengths). Seed σ²_1 = r²_1 (the list_reduce convention: the first
    * observation seeds the fold). Same sequential-sweep shape as
    * `ema`/`holt`; the recursion runs on UNROUNDED doubles with
    * (1 − λ) computed as the double expression the oracle replays
    * literally, rounding at emission only.
    */
  def ewmaVol(candles: DataFrame, lambda: Double = 0.94): DataFrame = {
    val lam = lambda; val oneMl = 1 - lambda
    val spark = candles.sparkSession
    import spark.implicits._
    returns(candles)
      .where(col("ret").isNotNull)
      .select(col("symbol"), col("bucket_ts"), col("ret"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var s2 = 0.0
        it.map { case (s, t, r) =>
          if (s != cur) { cur = s; s2 = r * r }
          else s2 = lam * s2 + oneMl * (r * r)
          (s, t, r, s2)
        }
      }
      .toDF("symbol", "bucket_ts", "ret", "s2")
      .select(col("symbol"), col("bucket_ts"), round(col("ret"), 6).as("ret"),
        round(sqrt(col("s2")), 6).as("ewma_vol"))
  }

  /** RENKO brick construction per symbol — the price-move-quantized chart
    * transform (time drops out; each brick is a fixed `brickSize` move),
    * the standard noise filter behind trend-following rules. Grid
    * semantics: the anchor starts at the first close; every time the
    * close crosses `anchor ± brickSize` one brick per full step is
    * emitted and the anchor advances a step — a single candle can emit
    * several bricks (gap candles), and reversals need a full step in the
    * other direction. Same sequential-sweep scale shape as `ema`/`holt`
    * (one symbol shuffle, O(n) sweep, O(1) state); brick levels are exact
    * multiples of `brickSize` off the seed close, rounded at emission.
    */
  def renko(candles: DataFrame, brickSize: Double): DataFrame = {
    require(brickSize > 0, "brickSize must be positive")
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var anchor = 0.0
        var idx = 0L
        it.flatMap { case (s, t, c) =>
          if (s != cur) { cur = s; anchor = c; idx = 0L }
          val out = List.newBuilder[(String, java.sql.Timestamp, Long, Int, Double, Double)]
          while (c >= anchor + brickSize) {
            idx += 1
            out += ((s, t, idx, 1, anchor, anchor + brickSize))
            anchor += brickSize
          }
          while (c <= anchor - brickSize) {
            idx += 1
            out += ((s, t, idx, -1, anchor, anchor - brickSize))
            anchor -= brickSize
          }
          out.result()
        }
      }
      .toDF("symbol", "bucket_ts", "brick_idx", "direction", "open_level", "close_level")
      .select(col("symbol"), col("bucket_ts"), col("brick_idx"), col("direction"),
        round(col("open_level"), 6).as("open_level"),
        round(col("close_level"), 6).as("close_level"))
  }

  /** Per-symbol OLS time trend: slope/intercept/R² of close against the
    * 0-based bucket index — the drift screen behind momentum ranking and
    * detrending. The index comes from one per-symbol window (row_number),
    * then ALL five co-moments (Σx, Σx², Σy, Σy², Σxy) accumulate in one
    * map-side-combined aggregation: integer x-sums exact by construction,
    * y-sums through exact DECIMAL partials (close as DECIMAL(18,2), the
    * atr precedent), so every input to the closed-form slope/intercept/R²
    * is bit-identical across engines and shuffle orders; the final
    * formulas are fixed-order doubles rounded to 6. Degenerate symbols
    * (n=1, or zero price variance) yield null slope/R² via guarded
    * divisors, never a divide-by-zero.
    */
  def trendOls(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val dy = DecimalType(18, 2)
    val dyy = DecimalType(38, 4)
    val x = (row_number().over(w) - 1).cast("long")
    val y = col("close").cast(dy)
    candles.select(col("symbol"), x.as("x"), y.as("y"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y")).cast("double").as("sy"),
        sum((col("y") * col("y")).cast(dyy)).cast("double").as("sy2"),
        sum((col("x").cast(dy) * col("y")).cast(dyy)).cast("double").as("sxy"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("sxd", col("sx").cast("double"))
      .withColumn("sx2d", col("sx2").cast("double"))
      .withColumn("dx", col("nd") * col("sx2d") - col("sxd") * col("sxd"))
      .withColumn("dyv", col("nd") * col("sy2") - col("sy") * col("sy"))
      .withColumn("cov", col("nd") * col("sxy") - col("sxd") * col("sy"))
      .withColumn("slope", col("cov") / when(col("dx") =!= 0, col("dx")))
      .select(col("symbol"), col("n"),
        round(col("slope"), 6).as("slope"),
        round((col("sy") - col("slope") * col("sxd")) / col("nd"), 6).as("intercept"),
        round((col("cov") * col("cov")) /
          when(col("dx") * col("dyv") =!= 0, col("dx") * col("dyv")), 6).as("r2"))
  }

  /** MACD: fast/slow EMA difference plus a signal EMA of the MACD line
    * and the histogram (macd - signal). All three EMAs fold in ONE
    * inherently-sequential per-symbol sweep (same shape as `ema`: one
    * shuffle, in-partition sort, O(n) scan, O(1) state) — the signal EMA
    * consumes the UNROUNDED macd values so the recursion is bit-identical
    * to the oracle's list_reduce replay; rounding happens at emission
    * only. Seeding matches list_reduce semantics: the first close seeds
    * both EMAs (macd starts at 0), the first macd seeds the signal.
    */
  def macd(candles: DataFrame, fast: Int = 12, slow: Int = 26,
           signalN: Int = 9): DataFrame = {
    val aF = 2.0 / (fast + 1); val bF = 1 - aF
    val aS = 2.0 / (slow + 1); val bS = 1 - aS
    val aG = 2.0 / (signalN + 1); val bG = 1 - aG
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var eF = 0.0; var eS = 0.0; var sig = 0.0
        it.map { case (s, t, c) =>
          if (s != cur) { cur = s; eF = c; eS = c; sig = eF - eS }
          else {
            eF = aF * c + bF * eF
            eS = aS * c + bS * eS
            sig = aG * (eF - eS) + bG * sig
          }
          (s, t, eF - eS, sig)
        }
      }
      .toDF("symbol", "bucket_ts", "macd_raw", "signal_raw")
      .select(col("symbol"), col("bucket_ts"),
        round(col("macd_raw"), 6).as("macd"),
        round(col("signal_raw"), 6).as("signal_line"),
        round(col("macd_raw") - col("signal_raw"), 6).as("histogram"))
  }

  /** Stochastic oscillator: %K = 100·(close − lowest low)/(highest high −
    * lowest low) over the trailing n buckets (full frames only; null when
    * the range is degenerate), %D = 3-bucket SMA of %K spelled as an
    * explicit lag chain so the summation order is fixed (a window AVG
    * would sum in engine-chosen order). Two windows on the SAME symbol
    * partitioning — one shuffle total, the second window reuses the sort.
    */
  /** Anchored (session-cumulative) VWAP per (symbol, day): running
    * Σ(typical price · volume) / Σvolume over the day's candles — the
    * intraday execution benchmark, resetting at each day anchor (the
    * daily-grouped [[vwap]] is its end-of-day scalar on raw trades).
    * Cumulative ROWS UNBOUNDED PRECEDING sums stream in ascending
    * bucket order in any engine; rounding at emission only.
    */
  def anchoredVwap(candles: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("symbol"), date_trunc("day", col("bucket_ts")))
      .orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    candles.select(col("symbol"), col("bucket_ts"),
        ((col("high") + col("low") + col("close")) / 3.0).as("tp"), col("volume"))
      .withColumn("cum_pv", sum(col("tp") * col("volume")).over(w))
      .withColumn("cum_v", sum(col("volume")).over(w))
      .where(col("cum_v") > 0)
      .select(col("symbol"), col("bucket_ts"),
        round(col("cum_pv") / col("cum_v"), 6).as("avwap"),
        round(col("cum_v"), 6).as("cum_volume"))
  }

  /** ADX (average directional index) with ±DI, Wilder smoothing as the
    * α = 1/n EMA form seeded at the first value. One inherently-
    * sequential per-symbol sweep (the `ema`/`macd` shape: one shuffle,
    * in-partition sort, O(n) scan, O(1) state) folds true range and
    * ±directional movement, derives ±DI and DX per row, and folds DX
    * again for ADX. The recursion is bit-identical to the oracle's
    * list_reduce replay (identical constant expressions and operation
    * order, rounding at emission only); a null DX (zero smoothed TR, or
    * +DI + −DI = 0 on a degenerate flat stretch) poisons the ADX fold
    * permanently — exactly list_reduce's null semantics, stated contract.
    * First candle per symbol has no prior close and is dropped.
    */
  def adx(candles: DataFrame, n: Int = 14): DataFrame = {
    val a = 1.0 / n
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"), col("close"))
      .as[(String, java.sql.Timestamp, Double, Double, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var ph, pl, pc = 0.0
        var has = false
        var sTR, sP, sN = 0.0
        var started = false
        var adxStarted = false
        var adxOpt: Option[Double] = None
        it.flatMap { case (s, t, h, l, c) =>
          if (s != cur) {
            cur = s; has = false; started = false
            adxStarted = false; adxOpt = None
          }
          val out =
            if (!has) None
            else {
              val tr = math.max(h - l, math.max(math.abs(h - pc), math.abs(l - pc)))
              val up = h - ph; val dn = pl - l
              val pdm = if (up > dn && up > 0) up else 0.0
              val ndm = if (dn > up && dn > 0) dn else 0.0
              if (!started) { started = true; sTR = tr; sP = pdm; sN = ndm }
              else {
                sTR = a * tr + (1 - a) * sTR
                sP = a * pdm + (1 - a) * sP
                sN = a * ndm + (1 - a) * sN
              }
              val di =
                if (sTR != 0.0) Some((100.0 * sP / sTR, 100.0 * sN / sTR))
                else None
              val dx = di.flatMap { case (p, m) =>
                if (p + m != 0.0) Some(100.0 * math.abs(p - m) / (p + m))
                else None
              }
              adxOpt =
                if (!adxStarted) { adxStarted = true; dx }
                else (adxOpt, dx) match {
                  case (Some(prev), Some(d)) => Some(a * d + (1 - a) * prev)
                  case _ => None // list_reduce null poisoning, replayed
                }
              Some((s, t, di.map(_._1), di.map(_._2), adxOpt))
            }
          ph = h; pl = l; pc = c; has = true
          out
        }
      }
      .toDF("symbol", "bucket_ts", "plus_di", "minus_di", "adx")
      .select(col("symbol"), col("bucket_ts"),
        round(col("plus_di"), 6).as("plus_di"),
        round(col("minus_di"), 6).as("minus_di"),
        round(col("adx"), 6).as("adx"))
  }

  /** Williams %R over `n` candles: −100·(hh − close)/(hh − ll), the
    * inverted stochastic %K — same full-window contract (rows with fewer
    * than n candles of history are dropped; flat windows → null).
    */
  def williamsR(candles: DataFrame, n: Int = 14): DataFrame = {
    val wf = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(-(n - 1), 0)
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"), col("close"))
      .withColumn("hh", max(col("high")).over(wf))
      .withColumn("ll", min(col("low")).over(wf))
      .withColumn("cnt", count(lit(1)).over(wf))
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"),
        // + 0.0 folds IEEE −0.0 (close == hh) to +0.0, matching any
        // engine that computes 0/d with the opposite sign; null passes
        (round(when(col("hh") =!= col("ll"),
          lit(-100.0) * (col("hh") - col("close")) / (col("hh") - col("ll"))), 6)
          + lit(0.0)).as("wpr"))
  }

  /** Commodity Channel Index over `n` candles: (tp − sma)/(0.015·md),
    * tp = (high+low+close)/3, md = mean |tp_i − sma_now| over the window.
    *
    * Every term of md references the WINDOW-END sma, so md is not a plain
    * windowed aggregate — the window's tp values are collected in frame
    * order and BOTH sma and md are left-folds over that one list: the
    * engine's windowed-sum algorithm (which may reassociate additions)
    * never touches them, making the values bit-identical in any engine
    * that folds a list in order (the EMA/MACD oracle technique, applied
    * to a sliding window).
    */
  def cci(candles: DataFrame, n: Int = 20): DataFrame = {
    val wf = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(-(n - 1), 0)
    candles.select(col("symbol"), col("bucket_ts"),
        ((col("high") + col("low") + col("close")) / 3.0).as("tp"))
      .withColumn("tps", collect_list(col("tp")).over(wf))
      .withColumn("cnt", count(lit(1)).over(wf))
      .where(col("cnt") === n)
      .withColumn("sma_tp",
        aggregate(col("tps"), lit(0.0), (acc, x) => acc + x) / n)
      .withColumn("md",
        aggregate(col("tps"), lit(0.0),
          (acc, x) => acc + abs(x - col("sma_tp"))) / n)
      .select(col("symbol"), col("bucket_ts"),
        round(when(col("md") =!= 0.0,
          (col("tp") - col("sma_tp")) / (lit(0.015) * col("md"))), 6).as("cci"))
  }

  /** Money Flow Index over `n` candles: volume-weighted RSI. Typical
    * price tp = (high+low+close)/3 and raw flow tp·volume classify as
    * positive/negative by tp's direction vs the prior candle (flat ticks
    * contribute neither); the first candle per symbol has no direction
    * and is dropped before the n-row flow window (full windows only).
    * All-negative windows → 0, all-positive → 100, no-flow windows
    * (every tick flat) → null.
    */
  def mfi(candles: DataFrame, n: Int = 14): DataFrame = {
    val wl = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val wf = wl.rowsBetween(-(n - 1), 0)
    candles.select(col("symbol"), col("bucket_ts"), col("volume"),
        ((col("high") + col("low") + col("close")) / 3.0).as("tp"))
      .withColumn("tp_prev", lag(col("tp"), 1).over(wl))
      .where(col("tp_prev").isNotNull)
      .withColumn("pos_mf", when(col("tp") > col("tp_prev"),
        col("tp") * col("volume")).otherwise(lit(0.0)))
      .withColumn("neg_mf", when(col("tp") < col("tp_prev"),
        col("tp") * col("volume")).otherwise(lit(0.0)))
      .withColumn("pos_sum", sum(col("pos_mf")).over(wf))
      .withColumn("neg_sum", sum(col("neg_mf")).over(wf))
      .withColumn("cnt", count(lit(1)).over(wf))
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"),
        round(when(col("neg_sum") === 0.0 && col("pos_sum") === 0.0, lit(null))
          .when(col("neg_sum") === 0.0, lit(100.0))
          .otherwise(lit(100.0) - lit(100.0) /
            (lit(1.0) + col("pos_sum") / col("neg_sum"))), 6).as("mfi"))
  }

  def stochastic(candles: DataFrame, n: Int = 14): DataFrame = {
    val wl = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val wf = wl.rowsBetween(-(n - 1), 0)
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"), col("close"))
      .withColumn("hh", max(col("high")).over(wf))
      .withColumn("ll", min(col("low")).over(wf))
      .withColumn("cnt", count(lit(1)).over(wf))
      .where(col("cnt") === n)
      .withColumn("k", when(col("hh") =!= col("ll"),
        lit(100.0) * (col("close") - col("ll")) / (col("hh") - col("ll"))))
      .withColumn("k1", lag(col("k"), 1).over(wl))
      .withColumn("k2", lag(col("k"), 2).over(wl))
      .select(col("symbol"), col("bucket_ts"),
        round(col("k"), 6).as("pct_k"),
        round(((col("k") + col("k1")) + col("k2")) / 3.0, 6).as("pct_d"))
  }

  /** Keltner channel: EMA center band ± `mult`×ATR. Composes the two
    * existing kernels — the sequential EMA sweep and the windowed ATR —
    * over ONE materialized candle frame (both branches would otherwise
    * recompute the upstream resample), joined on (symbol, bucket).
    * Emits full-ATR-frame rows only.
    */
  def keltner(candles0: DataFrame, nEma: Int = 20, nAtr: Int = 10,
              mult: Double = 2.0): DataFrame = {
    val candles = graft.core.Materialize.once(candles0)
    val e = ema(candles, nEma).select(col("symbol"), col("bucket_ts"), col("ema"))
    val a = atr(candles, nAtr).select(col("symbol"), col("bucket_ts"), col("atr"))
    e.join(a, Seq("symbol", "bucket_ts"))
      .select(col("symbol"), col("bucket_ts"),
        round(col("ema"), 6).as("center"),
        round(col("ema") + lit(mult) * col("atr"), 6).as("upper_band"),
        round(col("ema") - lit(mult) * col("atr"), 6).as("lower_band"))
  }

  /** Donchian channel: highest high / lowest low over the trailing n
    * buckets and their midpoint (full frames only). Min/max picks are
    * exact; only the midpoint divides, rounded for engine stability. One
    * bounded window per symbol.
    */
  def donchian(candles: DataFrame, n: Int = 20): DataFrame = {
    val wf = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(-(n - 1), 0)
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"), col("close"))
      .withColumn("upper_band", max(col("high")).over(wf))
      .withColumn("lower_band", min(col("low")).over(wf))
      .withColumn("cnt", count(lit(1)).over(wf))
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"), col("close"),
        col("upper_band"), col("lower_band"),
        round((col("upper_band") + col("lower_band")) / 2.0, 6).as("middle"))
  }

  /** Heikin-Ashi smoothed candles: ha_close = (o+h+l+c)/4 per bar,
    * ha_open = midpoint of the previous HA bar (seeded with the first
    * bar's (o+c)/2), extremes stretched over both. The recursion is the
    * same inherently-sequential per-symbol sweep as `ema`; arithmetic
    * order matches the oracle's list_reduce fold exactly, so values are
    * bit-reproducible cross-engine (rounded at emission only).
    */
  def heikinAshi(candles: DataFrame): DataFrame = {
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select(col("symbol"), col("bucket_ts"),
        col("open"), col("high"), col("low"), col("close"))
      .as[(String, java.sql.Timestamp, Double, Double, Double, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var prevO = 0.0
        var prevC = 0.0
        var first = true
        it.map { case (s, t, o, h, l, c) =>
          if (s != cur) { cur = s; first = true }
          val haC = (o + h + l + c) / 4.0
          val haO = if (first) (o + c) / 2.0 else (prevO + prevC) / 2.0
          first = false
          prevO = haO; prevC = haC
          val haH = math.max(h, math.max(haO, haC))
          val haL = math.min(l, math.min(haO, haC))
          (s, t, haO, haH, haL, haC)
        }
      }
      .toDF("symbol", "bucket_ts", "ha_open", "ha_high", "ha_low", "ha_close")
      .select(col("symbol"), col("bucket_ts"),
        round(col("ha_open"), 6).as("ha_open"), round(col("ha_high"), 6).as("ha_high"),
        round(col("ha_low"), 6).as("ha_low"), round(col("ha_close"), 6).as("ha_close"))
  }

  /** Densify a candle series to one row per bucket between each symbol's
    * first and last bucket, forward-filling close. sequence+explode is
    * map-side; the fill is one window per symbol.
    */
  def gapFill(candles: DataFrame, widthMicros: Long): DataFrame = {
    val spine = candles.groupBy(col("symbol"))
      .agg(min(col("bucket_ts")).as("lo"), max(col("bucket_ts")).as("hi"))
      .select(col("symbol"), explode(sequence(col("lo"), col("hi"),
        expr(s"INTERVAL ${widthMicros / 1000000} SECOND"))).as("bucket_ts"))
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine
      .join(candles.select(col("symbol"), col("bucket_ts"), col("close")),
        Seq("symbol", "bucket_ts"), "left")
      .select(col("symbol"), col("bucket_ts"),
        when(col("close").isNull, lit(1L)).otherwise(lit(0L)).as("is_gap"),
        last(col("close"), ignoreNulls = true).over(w).as("close_filled"))
  }

  /** Gap fill with LINEAR interpolation between the surrounding real
    * closes (forward fill for trailing gaps, backward for leading ones) —
    * the resampling mode quant pipelines want when a step function biases
    * indicators. Two RUNNING windows per symbol, each with O(1) state per
    * row: the backward fill is the ascending running frame, and the
    * forward fill is `last IGNORE NULLS` over the DESCENDING running
    * frame — NOT `first ... rows between current and unbounded following`,
    * which Spark executes as UnboundedFollowingWindowFunctionFrame:
    * the tail frame is RE-AGGREGATED for every row, O(n²) per partition
    * (caught live at the ×27 full-registry verify, where one task spent
    * 20+ min in AggregateProcessor under that frame; the descending form
    * costs one extra sort, O(n log n)). Same values row for row. The
    * interpolation weight is a ratio of integer microsecond offsets, so
    * the arithmetic replays exactly in any engine; rounded to 6 decimals.
    */
  def gapFillLinear(candles: DataFrame, widthMicros: Long): DataFrame = {
    val spine = candles.groupBy(col("symbol"))
      .agg(min(col("bucket_ts")).as("lo"), max(col("bucket_ts")).as("hi"))
      .select(col("symbol"), explode(sequence(col("lo"), col("hi"),
        expr(s"INTERVAL ${widthMicros / 1000000} SECOND"))).as("bucket_ts"))
    val wb = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wf = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val us = unix_micros(col("bucket_ts"))
    val realTs = when(col("close").isNotNull, us)
    val prevC = last(col("close"), ignoreNulls = true).over(wb)
    val prevT = last(realTs, ignoreNulls = true).over(wb)
    val nextC = last(col("close"), ignoreNulls = true).over(wf)
    val nextT = last(realTs, ignoreNulls = true).over(wf)
    spine
      .join(candles.select(col("symbol"), col("bucket_ts"), col("close")),
        Seq("symbol", "bucket_ts"), "left")
      .select(col("symbol"), col("bucket_ts"),
        when(col("close").isNull, lit(1L)).otherwise(lit(0L)).as("is_gap"),
        round(
          when(col("close").isNotNull, col("close"))
            .when(nextC.isNull, prevC)  // trailing gap: forward fill
            .when(prevC.isNull, nextC)  // leading gap: backward fill
            .otherwise(prevC + (nextC - prevC) *
              ((us - prevT).cast("double") / (nextT - prevT).cast("double"))),
          6).as("close_interp"))
  }

  /** Candle-store consistency validator — the ingest gate a store runs
    * before trusting a batch: per-symbol counts of OHLC-envelope
    * violations (high below low / outside the open-close hull), buckets
    * off the timeframe grid, non-positive volumes, and missing buckets
    * (span vs count — an aggregate identity, no window needed). Pure
    * integer arithmetic; one aggregation.
    */
  def validate(candles: DataFrame, widthMicros: Long): DataFrame = {
    val bad = (c: org.apache.spark.sql.Column) => sum(when(c, 1L).otherwise(0L))
    val us = unix_micros(col("bucket_ts"))
    candles.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_candles"),
        bad(col("high") < col("low") ||
          col("high") < greatest(col("open"), col("close")) ||
          col("low") > least(col("open"), col("close"))).as("n_ohlc_violations"),
        bad(pmod(us, lit(widthMicros)) =!= 0).as("n_off_grid"),
        bad(col("volume") <= 0).as("n_nonpos_volume"),
        ((max(us) - min(us)) / lit(widthMicros) + 1L - count(lit(1)))
          .cast("long").as("n_missing_buckets"))
  }

  /** Per-symbol LOG-return moment profile: mean / stddev / skewness /
    * excess kurtosis (population moments) from EXACT decimal power sums.
    * Log returns (not simple returns) because they are bounded for any
    * positive price ratio — a near-zero price makes a simple return
    * overflow any fixed decimal, while |ln| stays < 1000 — so the
    * rounded value fits DECIMAL(9,6) and the 4th-power sums stay inside
    * DECIMAL(36,24): every partial sum is exact and order-insensitive;
    * only the final moment formulas are double (identical op order in
    * the oracle), rounded for engine stability. One aggregation.
    */
  /** Range-based volatility estimators per symbol — Parkinson (high/low
    * range) and Garman–Klass (range + open/close) over the candle frame:
    * the OHLC-native σ estimates that are 5–7× more statistically
    * efficient than close-to-close stddev at the same candle count (the
    * classic 1980 results), i.e. the volatility a candle store can
    * answer WITHOUT tick data. Per-candle log terms are rounded to 6 and
    * squared in exact DECIMAL(18,12) partial sums (order-insensitive —
    * the returnMoments determinism recipe); only the final formulas are
    * double with literal constants (4·ln2, 2·ln2−1) so no engine's libm
    * ln(2) enters the compare. One aggregation, map-side combined; GK's
    * variance clamps at 0 (it is not positive per-candle). Cites the
    * reference's candle model (ccxt-ohlcv-fetch.py:35-51) — this is a
    * query over its stored OHLCV rows.
    */
  def rangeVolatility(candles: DataFrame): DataFrame = {
    val x = when(col("high") > 0 && col("low") > 0,
      round(log(col("high") / col("low")), 6)).cast(DecimalType(9, 6))
    val y = when(col("close") > 0 && col("open") > 0,
      round(log(col("close") / col("open")), 6)).cast(DecimalType(9, 6))
    candles.select(col("symbol"), x.as("x"), y.as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum((col("x") * col("x")).cast(DecimalType(18, 12))).cast("double").as("sx2"),
        sum((col("y") * col("y")).cast(DecimalType(18, 12))).cast("double").as("sy2"))
      .withColumn("nd", col("n").cast("double"))
      .select(col("symbol"), col("n"),
        round(sqrt(col("sx2") / col("nd") / lit(2.772588722239781)), 6)
          .as("parkinson"),
        round(sqrt(greatest(lit(0.5) * (col("sx2") / col("nd")) -
          lit(0.3862943611198906) * (col("sy2") / col("nd")), lit(0.0))), 6)
          .as("garman_klass"))
  }

  def returnMoments(candles: DataFrame): DataFrame = {
    val r = when(col("close") > 0 && col("prev_close") > 0,
      round(log(col("close") / col("prev_close")), 6)).cast(DecimalType(9, 6))
    returns(candles)
      .select(col("symbol"), r.as("r"))
      .groupBy(col("symbol"))
      .agg(count(col("r")).as("n"),
        sum(col("r")).cast("double").as("s1"),
        sum((col("r") * col("r")).cast(DecimalType(18, 12))).cast("double").as("s2"),
        sum((col("r") * col("r") * col("r")).cast(DecimalType(27, 18))).cast("double").as("s3"),
        sum((col("r") * col("r") * col("r") * col("r")).cast(DecimalType(36, 24)))
          .cast("double").as("s4"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("m", col("s1") / col("nd"))
      .withColumn("v", col("s2") / col("nd") - col("m") * col("m"))
      .select(col("symbol"), col("n"),
        round(col("m"), 6).as("mean_ret"),
        round(sqrt(col("v")), 6).as("stddev_ret"),
        round((col("s3") / col("nd") - lit(3.0) * col("m") * (col("s2") / col("nd")) +
          lit(2.0) * col("m") * col("m") * col("m")) / (sqrt(col("v")) * col("v")), 6)
          .as("skew_ret"),
        round((col("s4") / col("nd") - lit(4.0) * col("m") * (col("s3") / col("nd")) +
          lit(6.0) * col("m") * col("m") * (col("s2") / col("nd")) -
          lit(3.0) * col("m") * col("m") * col("m") * col("m")) /
          (col("v") * col("v")) - lit(3.0), 6).as("kurtosis_ret"))
  }

  /** Return autocorrelation function per symbol for lags 1..maxLag — the
    * mean-reversion/momentum screen. One lag window computes all lags
    * (bounded frame), an array explode stacks them, one co-moment
    * aggregation per (symbol, lag). Correlations round to 6 decimals for
    * engine stability (the symbol_correlations precedent).
    */
  def autocorrelation(candles: DataFrame, maxLag: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val withLags = returns(candles)
      .select(Seq(col("symbol"), col("bucket_ts"), col("ret")) ++
        (1 to maxLag).map(l => lag(col("ret"), l).over(w).as(s"l$l")): _*)
    // all lags aggregate in ONE pass (corr skips null pairs, so each lag's
    // co-moments see exactly its valid rows); the per-lag rows then unfold
    // from the dim-scale per-symbol frame — no maxLag× row explosion of
    // the full returns frame before the shuffle
    withLags
      .groupBy(col("symbol"))
      .agg(count(col("l1")).as("cnt_l1"),
        (2 to maxLag).map(l => count(col(s"l$l")).as(s"cnt_l$l")) ++
          (1 to maxLag).map(l =>
            round(corr(col("ret"), col(s"l$l")), 6).as(s"acf_l$l")): _*)
      .select(col("symbol"),
        explode(array((1 to maxLag).map(l =>
          struct(lit(l).cast("long").as("lag_n"), col(s"cnt_l$l").as("n"),
            col(s"acf_l$l").as("acf"))): _*)).as("e"))
      .select(col("symbol"), col("e.lag_n").as("lag_n"), col("e.n").as("n"),
        col("e.acf").as("acf"))
      // n > 1: a single lag pair has zero variance, where Spark's corr
      // yields NaN but SQL engines yield NULL — a divergence waiting for a
      // 2-return-row symbol. One pair carries no correlation signal anyway.
      .where(col("n") > 1)
  }

  /** Time-of-day seasonality profile: per (symbol, hour-of-day) trading
    * activity from hourly candles — decimal-exact volume sums, integer
    * counts, one low-cardinality aggregation.
    */
  def hourlyProfile(candles: DataFrame): DataFrame =
    candles.groupBy(col("symbol"), hour(col("bucket_ts")).cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("volume").cast(D)).cast("double").as("total_volume"),
        (sum(col("volume").cast(D)).cast("double") /
          count(lit(1)).cast("double")).as("avg_volume"),
        sum(col("trades")).as("total_trades"))

  /** Ichimoku cloud components: conversion/base lines (9/26-bucket
    * midpoints), the two leading spans PROJECTED 26 buckets ahead (lead
    * of the span value at the row whose chart position this row is — i.e.
    * lag of the computed span), and the lagging close (lead by 26).
    * Min/max picks and midpoints only — exact picks, one division each,
    * all on one symbol partitioning (three window frames, one shuffle).
    * Emits rows where conversion and base are full-frame.
    */
  def ichimoku(candles: DataFrame, convN: Int = 9, baseN: Int = 26,
               spanBN: Int = 52): DataFrame = {
    val wl = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    def mid(n: Int) = {
      val wf = wl.rowsBetween(-(n - 1), 0)
      (max(col("high")).over(wf) + min(col("low")).over(wf)) / 2.0
    }
    val cnt = count(lit(1)).over(wl.rowsBetween(-(baseN - 1), 0))
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"), col("close"))
      .withColumn("conversion", mid(convN))
      .withColumn("base", mid(baseN))
      .withColumn("span_a_now", (col("conversion") + col("base")) / 2.0)
      .withColumn("span_b_now", mid(spanBN))
      .withColumn("cnt", cnt)
      .withColumn("span_a", lag(col("span_a_now"), baseN).over(wl))
      .withColumn("span_b", lag(col("span_b_now"), baseN).over(wl))
      .withColumn("lagging_close", lead(col("close"), baseN).over(wl))
      .where(col("cnt") === baseN)
      .select(col("symbol"), col("bucket_ts"), col("close"),
        round(col("conversion"), 6).as("conversion"),
        round(col("base"), 6).as("base"),
        round(col("span_a"), 6).as("span_a"),
        round(col("span_b"), 6).as("span_b"),
        col("lagging_close"))
  }

  /** CUSUM changepoint screen over standardized returns: the classic
    * drift detector (persistent small shifts that a z-score screen
    * misses). Per symbol: returns standardized against the symbol's FULL
    * moments — decimal-exact sums, so z is engine-replayable — then the
    * two one-sided recursions S⁺ = max(0, S⁺ + z − slack) and
    * S⁻ = min(0, S⁻ + z + slack), flagged when either clears `h`. The
    * recursion is the ema-style inherently-sequential per-symbol sweep
    * (one shuffle, O(1) state); the oracle replays both folds via
    * list_reduce with identical operation order.
    */
  def cusum(candles: DataFrame, slack: Double = 0.5, h: Double = 4.0): DataFrame = {
    val dr = DecimalType(18, 12)
    val dr2 = DecimalType(38, 24)
    val r = graft.core.Materialize.once(
      returns(candles).select(col("symbol"), col("bucket_ts"), col("ret")))
    val stats = r.groupBy(col("symbol")).agg(
      count(col("ret")).as("n"),
      sum(col("ret").cast(dr)).cast("double").as("s1"),
      sum((col("ret").cast(dr) * col("ret").cast(dr)).cast(dr2)).cast("double").as("s2"))
      .withColumn("mu", col("s1") / col("n"))
      .withColumn("variance",
        (col("s2") - col("n") * col("mu") * col("mu")) / (col("n") - 1))
      .where(col("n") >= 2 && col("variance") > 0)
      .select(col("symbol"), col("mu"), col("variance"))
    val spark = candles.sparkSession
    import spark.implicits._
    r.join(broadcast(stats), "symbol")
      .select(col("symbol"), col("bucket_ts"),
        ((col("ret") - col("mu")) / sqrt(col("variance"))).as("z"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var sp = 0.0; var sn = 0.0
        it.map { case (s, t, z) =>
          if (s != cur) { cur = s; sp = 0.0; sn = 0.0 }
          sp = math.max(0.0, sp + z - slack)
          sn = math.min(0.0, sn + z + slack)
          (s, t, z, sp, sn)
        }
      }
      .toDF("symbol", "bucket_ts", "z", "sp", "sn")
      .select(col("symbol"), col("bucket_ts"), round(col("z"), 6).as("zscore"),
        round(col("sp"), 6).as("cusum_pos"), round(col("sn"), 6).as("cusum_neg"),
        (col("sp") > h || col("sn") < -h).as("breach"))
  }

  /** Classic floor-trader pivot levels for each day from the PRIOR day's
    * daily candle: P=(H+L+C)/3, R1=2P−L, S1=2P−H, R2=P+(H−L), S2=P−(H−L).
    * The daily frame derives from hourly candles (candle monoid — no
    * second trades scan); one lag window per symbol over the dim-scale
    * daily frame. Arithmetic order is fixed and rounded once at emission.
    */
  def pivotPoints(hourly: DataFrame): DataFrame = {
    val wl = Window.partitionBy(col("symbol")).orderBy(col("day"))
    val daily = hourly
      .groupBy(col("symbol"), date_trunc("day", col("bucket_ts")).as("day"))
      .agg(max(col("high")).as("h"), min(col("low")).as("l"),
        max_by(col("close"), col("bucket_ts")).as("c"))
    val p = (col("ph") + col("pl") + col("pc")) / 3.0
    daily
      .withColumn("ph", lag(col("h"), 1).over(wl))
      .withColumn("pl", lag(col("l"), 1).over(wl))
      .withColumn("pc", lag(col("c"), 1).over(wl))
      .where(col("ph").isNotNull)
      .select(col("symbol"), col("day"),
        round(p, 6).as("pivot"),
        round(lit(2.0) * p - col("pl"), 6).as("r1"),
        round(lit(2.0) * p - col("ph"), 6).as("s1"),
        round(p + (col("ph") - col("pl")), 6).as("r2"),
        round(p - (col("ph") - col("pl")), 6).as("s2"))
  }

  /** Market breadth per bucket across the symbol universe: advancing /
    * declining / flat counts and the advance-decline ratio. One lag
    * window per symbol + one aggregation keyed by time.
    */
  def marketBreadth(candles: DataFrame): DataFrame = {
    val wl = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .withColumn("prev", lag(col("close"), 1).over(wl))
      .where(col("prev").isNotNull)
      .groupBy(col("bucket_ts"))
      .agg(sum(when(col("close") > col("prev"), 1L).otherwise(0L)).as("n_up"),
        sum(when(col("close") < col("prev"), 1L).otherwise(0L)).as("n_down"),
        sum(when(col("close") === col("prev"), 1L).otherwise(0L)).as("n_flat"))
      .withColumn("ad_ratio", when(col("n_down") > 0,
        round(col("n_up").cast("double") / col("n_down"), 6)))
  }

  /** Top-n buckets by volume per symbol (deterministic tiebreak on
    * bucket_ts).
    */
  def topVolume(candles: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("symbol"))
      .orderBy(col("volume").desc, col("bucket_ts"))
    candles.select(col("symbol"), col("bucket_ts"), col("volume"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= n)
  }

  /** Per-symbol candle summary statistics. */
  def stats(candles: DataFrame): DataFrame =
    candles.groupBy(col("symbol")).agg(
      count(lit(1)).as("n_buckets"),
      max(col("high")).as("max_high"),
      min(col("low")).as("min_low"),
      (sum((col("high") - col("low")).cast(D)).cast("double") /
        count(lit(1)).cast("double")).as("avg_range"),
      sum(col("volume").cast(D)).cast("double").as("total_volume"))

  /** Volume anomaly screen: buckets whose volume sits >= `z` sample
    * standard deviations from the symbol's mean. Moments come from ONE
    * map-side-partial aggregation over decimal-exact sums (sum(v),
    * sum(v*v) as decimals -> identical under any shuffle order and
    * replayable by any engine), variance/z assembled in plain IEEE
    * double from those exact sums, broadcast-joined back (symbols are
    * dim-scale). No whole-partition window, no second scan shuffle.
    */
  def volumeAnomaly(candles0: DataFrame, z: Double = 2.0): DataFrame = {
    val d2 = DecimalType(18, 2)
    // materialize the candle frame once: the stats branch and the probe
    // side would otherwise recompute the whole upstream resample
    val candles = graft.core.Materialize.once(candles0)
    val stats = candles.groupBy(col("symbol")).agg(
      count(lit(1)).as("n"),
      sum(col("volume").cast(d2)).cast("double").as("s1"),
      sum(col("volume").cast(d2) * col("volume").cast(d2)).cast("double").as("s2"))
    candles.join(broadcast(stats), "symbol")
      // a single-candle symbol has no sample variance: filter BEFORE the
      // n-1 division (ANSI mode turns it into a DIVIDE_BY_ZERO crash on
      // a 1-row partition — the EmptySweep singleton finding); same
      // result set as the variance>0 filter alone on n>1 data
      .where(col("n") > 1)
      .withColumn("mu", col("s1") / col("n"))
      .withColumn("variance",
        (col("s2") - col("n") * col("mu") * col("mu")) / (col("n") - 1))
      .where(col("variance") > 0)
      .withColumn("zscore",
        round((col("volume") - col("mu")) / sqrt(col("variance")), 6))
      .where(abs(col("zscore")) >= z)
      .select(col("symbol"), col("bucket_ts"), col("volume"), col("zscore"))
  }

  /** Candlestick pattern flags — doji (body within 10% of the range) and
    * bullish/bearish engulfing vs the previous candle. One lag window per
    * symbol (bounded frame); pure double comparisons, no rounding needed.
    * Emits EVERY candle with its flags (feature-engineering shape;
    * engulfing flags are null on a symbol's first candle) — downstream
    * filters pick the patterns they care about.
    */
  def candlePatterns(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val body = abs(col("close") - col("open"))
    val range = col("high") - col("low")
    candles
      .withColumn("prev_open", lag(col("open"), 1).over(w))
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .withColumn("doji", range > 0 && body <= lit(0.1) * range)
      .withColumn("bull_engulf", col("prev_close") < col("prev_open") &&
        col("close") > col("open") &&
        col("open") <= col("prev_close") && col("close") >= col("prev_open"))
      .withColumn("bear_engulf", col("prev_close") > col("prev_open") &&
        col("close") < col("open") &&
        col("open") >= col("prev_close") && col("close") <= col("prev_open"))
      .select(col("symbol"), col("bucket_ts"), col("open"), col("high"),
        col("low"), col("close"), col("doji"), col("bull_engulf"), col("bear_engulf"))
  }

  /** VORTEX indicator per symbol (Botes/Siepman): VI⁺ = Σ|high −
    * prev_low| / ΣTR and VI⁻ = Σ|low − prev_high| / ΣTR over an `n`-bar
    * frame — upward/downward vortex movement normalized by range, whose
    * crossovers are the trend-change signal. Full frames only (the
    * rolling_vol convention).
    *
    * Scale shape: the three lags and the three `n`-bar sums are frames
    * over the SAME per-symbol window — ONE shuffle, bounded state.
    * Determinism: per-bar terms |h−pl|, |l−ph| and TR are differences of
    * 2-decimal prices rounded back to 2 and summed as exact
    * DECIMAL(18,2) (order-insensitive); each VI is one double division on
    * the exact sums, rounded at emission, null-guarded on a zero TR sum.
    */
  def vortex(candles: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 2, "n >= 2")
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val frame = w.rowsBetween(-(n - 1), 0)
    val vmp = round(abs(col("high") - col("prev_low")), 2).cast(D)
    val vmn = round(abs(col("low") - col("prev_high")), 2).cast(D)
    val tr = round(greatest(col("high") - col("low"),
      abs(col("high") - col("prev_close")),
      abs(col("low") - col("prev_close"))), 2).cast(D)
    candles
      .withColumn("prev_high", lag(col("high"), 1).over(w))
      .withColumn("prev_low", lag(col("low"), 1).over(w))
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .where(col("prev_close").isNotNull)
      .withColumn("svmp", sum(vmp).over(frame))
      .withColumn("svmn", sum(vmn).over(frame))
      .withColumn("str", sum(tr).over(frame))
      .withColumn("cnt", count(lit(1)).over(frame))
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"),
        round(col("svmp").cast("double") /
          when(col("str") =!= 0, col("str").cast("double")), 6).as("vi_plus"),
        round(col("svmn").cast("double") /
          when(col("str") =!= 0, col("str").cast("double")), 6).as("vi_minus"))
  }

  /** STOCHASTIC RSI per symbol: (RSI − min_n₂RSI)/(max_n₂RSI − min_n₂RSI)
    * — the %K normalization applied to RSI itself, squeezing Cutler-RSI's
    * mid-range drift into a hard 0..1 oscillator that reaches its bands
    * far more often (the indicator-of-an-indicator pattern). Rides on
    * this engine's window-form RSI: the min/max frame stacks on the SAME
    * per-symbol partitioning (no extra shuffle — plain windows compose,
    * unlike sweeps), full RSI frames AND full stoch frames only, flat
    * RSI windows null-guarded. Windowed min/max of the rounded RSI
    * doubles are picks, not sums — order-free in any engine.
    */
  def stochRsi(candles: DataFrame, n: Int = 14, n2: Int = 14): DataFrame = {
    require(n >= 2 && n2 >= 2, "n, n2 >= 2")
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(-(n2 - 1), 0)
    rsi(candles, n)
      .withColumn("lo", min(col("rsi")).over(w))
      .withColumn("hi", max(col("rsi")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .where(col("cnt") === n2)
      .select(col("symbol"), col("bucket_ts"), col("rsi"),
        round((col("rsi") - col("lo")) /
          when(col("hi") =!= col("lo"), col("hi") - col("lo")), 6)
          .as("stoch_rsi"))
  }

  /** EASE OF MOVEMENT per symbol (Arms): midpoint advance scaled by how
    * little volume it took — EMV = Δmid · range · 10⁴ / volume, averaged
    * over `n` bars: the "price moved on air" screen that separates
    * conviction moves from drift. This operator is the engine's show-
    * case for the LAST determinism hazard class: its per-bar term
    * a·r/(2v) (cent integers) frequently has a TERMINATING decimal
    * expansion landing EXACTLY on half-micro ties, where Spark's
    * exact-BigDecimal `round` and a float-scaled `round` legitimately
    * disagree by one ulp (measured here in three successive recipes).
    * So NO engine round() touches the value anywhere: the term is
    * quantized to integer micro-units by SIGN-AWARE HALF-UP INTEGER
    * DIVISION ((2|N|+d) div 2d — exact in any engine), the frame sum is
    * an exact BIGINT, the frame average is the same integer rounding by
    * the literal n, and the single closing IEEE division by 10⁶ is
    * correctly rounded identically everywhere. Zero-volume bars
    * contribute no term (no observation, the amihud convention); full
    * frames of surviving terms only. One lag + one frame sum on ONE
    * window.
    */
  def emv(candles: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 1, "n >= 1")
    val wl = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val wf = wl.rowsBetween(-(n - 1), 0)
    val ac = ((col("high").cast(D) + col("low").cast(D) -
      col("prev_high").cast(D) - col("prev_low").cast(D)) * lit(100)).cast("long")
    val rc = ((col("high").cast(D) - col("low").cast(D)) * lit(100)).cast("long")
    val vc = (col("volume").cast(D) * lit(100)).cast("long")
    candles
      .withColumn("prev_high", lag(col("high"), 1).over(wl))
      .withColumn("prev_low", lag(col("low"), 1).over(wl))
      .where(col("prev_high").isNotNull && col("volume") > 0)
      // term = 50·A·R/V dollars = 50·ac·rc/vc in cents algebra — micro
      // units make that (100·ac·rc·10⁶)/(2·vc); quantized by exact
      // integer half-up division. Headroom: 2·nn stays inside int64 up
      // to ~$1,000 prices (4·P²·2·10⁸ ≤ 2⁶³); a wider-priced feed would
      // take a DECIMAL(38) intermediate.
      .withColumn("nn", ac * rc * lit(100000000L))
      .withColumn("dd", lit(2L) * vc)
      .withColumn("micro", expr(
        "CASE WHEN nn >= 0 THEN (2 * nn + dd) div (2 * dd) " +
          "ELSE -((2 * -nn + dd) div (2 * dd)) END"))
      .withColumn("st", sum(col("micro")).over(wf))
      .withColumn("cnt", count(lit(1)).over(wf))
      .where(col("cnt") === n)
      .withColumn("am", expr(
        s"CASE WHEN st >= 0 THEN (2 * st + $n) div ${2 * n} " +
          s"ELSE -((2 * -st + $n) div ${2 * n}) END"))
      .select(col("symbol"), col("bucket_ts"),
        (col("am").cast("double") / lit(1000000.0)).as("emv"))
  }

  /** CHANDELIER EXIT per symbol: trailing stops hung from the `n`-bar
    * extremes — long stop = highest high − mult·ATR, short stop = lowest
    * low + mult·ATR (simple-average ATR, the window-form this engine's
    * `atr` uses; LeBeau's original hangs from the same frame). The
    * volatility-scaled trailing-stop pair every ATR-based exit system
    * starts from. Extremes are exact picks; TR terms exact DECIMAL(18,2)
    * frame sums over the literal n; the stop arithmetic is fixed-order
    * doubles rounded at emission; full frames only. One lag + four frame
    * aggregates on ONE window.
    */
  def chandelierExit(candles: DataFrame, n: Int = 22, mult: Double = 3.0): DataFrame = {
    require(n >= 1 && mult > 0, "n >= 1 and mult > 0")
    val wl = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val wf = wl.rowsBetween(-(n - 1), 0)
    val tr = greatest(
      col("high").cast(D) - col("low").cast(D),
      abs(col("high").cast(D) - col("prev_close").cast(D)),
      abs(col("low").cast(D) - col("prev_close").cast(D)))
    candles
      .withColumn("prev_close", lag(col("close"), 1).over(wl))
      .where(col("prev_close").isNotNull)
      .withColumn("hh", max(col("high")).over(wf))
      .withColumn("ll", min(col("low")).over(wf))
      .withColumn("str", sum(tr).over(wf))
      .withColumn("cnt", count(lit(1)).over(wf))
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"),
        round(col("hh") - lit(mult) * (col("str").cast("double") / lit(n.toDouble)), 6)
          .as("long_stop"),
        round(col("ll") + lit(mult) * (col("str").cast("double") / lit(n.toDouble)), 6)
          .as("short_stop"))
  }

  /** VOLUME-WEIGHTED moving average per symbol: Σ(close·volume)/Σvolume
    * over `n`-bar frames — the MA that discounts thin bars, sitting
    * between SMA (ignores volume) and VWAP (anchored, not rolling).
    * Price×volume terms are exact DECIMAL(38,4) products of 2-decimal
    * inputs, both frame sums exact decimals, one double division rounded
    * at emission; full frames only, zero-volume frames null. ONE
    * per-symbol window.
    */
  def vwma(candles: DataFrame, n: Int = 20): DataFrame = {
    require(n >= 1, "n >= 1")
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
      .rowsBetween(-(n - 1), 0)
    val pv = (col("close").cast(D) * col("volume").cast(D)).cast(DecimalType(38, 4))
    candles
      .withColumn("spv", sum(pv).over(w))
      .withColumn("sv", sum(col("volume").cast(D)).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"),
        round(col("spv").cast("double") /
          when(col("sv") =!= 0, col("sv").cast("double")), 6).as("vwma"))
  }

  /** ULTIMATE OSCILLATOR per symbol (Williams): buying pressure over true
    * range averaged at 7/14/28 bars and blended 4:2:1 — the
    * multi-horizon momentum reading that punishes single-window
    * divergence failures. BP = close − min(low, prev_close) and TR =
    * max(high, prev_close) − min(low, prev_close) are 2-decimal terms
    * rounded back to 2 and frame-summed as exact DECIMAL(18,2) (the
    * vortex recipe); each average is one double division, the blend a
    * fixed-order double, rounded at emission; full 28-frames only, any
    * zero TR sum nulls the reading. One lag + six frame sums + the count
    * gate, all on ONE per-symbol window partitioning (frames of
    * different widths share the sort, no extra shuffle).
    */
  def ultimateOsc(candles: DataFrame, n1: Int = 7, n2: Int = 14, n3: Int = 28): DataFrame = {
    require(n1 >= 1 && n2 > n1 && n3 > n2, "1 <= n1 < n2 < n3")
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    def frame(n: Int) = w.rowsBetween(-(n - 1), 0)
    val bp = round(col("close") - least(col("low"), col("pc")), 2).cast(D)
    val tr = round(greatest(col("high"), col("pc")) -
      least(col("low"), col("pc")), 2).cast(D)
    def avg(nn: Int) = {
      val sb = sum(bp).over(frame(nn)).cast("double")
      val st = sum(tr).over(frame(nn))
      sb / when(st =!= 0, st.cast("double"))
    }
    candles
      .withColumn("pc", lag(col("close"), 1).over(w))
      .where(col("pc").isNotNull)
      .withColumn("a1", avg(n1))
      .withColumn("a2", avg(n2))
      .withColumn("a3", avg(n3))
      .withColumn("cnt", count(lit(1)).over(frame(n3)))
      .where(col("cnt") === n3)
      .select(col("symbol"), col("bucket_ts"),
        round(lit(100.0) * (lit(4.0) * col("a1") + lit(2.0) * col("a2") + col("a3")) /
          lit(7.0), 6).as("ultimate_osc"))
  }

  /** COPPOCK CURVE per symbol: the 10-bar FRONT-WEIGHTED moving average
    * (weights 10..1) of ROC(14) + ROC(11) — the long-horizon bottom
    * signal (its founder tuned it for monthly bars; the engine leaves
    * the timeframe to the caller). Positionally-weighted window sums are
    * not a window function — the WMA is spelled as TEN explicit lags
    * with integer weights over the rounded-DECIMAL(18,6) ROC sum, so
    * every product and the sum are EXACT decimals (association-free in
    * any engine); the single /55 division is double, rounded at
    * emission. Defined where the deepest lag exists. ONE per-symbol
    * window partitioning serves the two ROC lags and the ten WMA lags.
    */
  def coppock(candles: DataFrame, r1: Int = 14, r2: Int = 11, wn: Int = 10): DataFrame = {
    require(r1 >= 1 && r2 >= 1 && wn >= 1, "positive windows")
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    def roc(k: Int) =
      round(lit(100.0) * (col("close") / when(lag(col("close"), k).over(w) =!= 0,
        lag(col("close"), k).over(w)) - lit(1.0)), 6)
    val weighted = (0 until wn)
      .map(j => lag(col("s"), j).over(w) * lit((wn - j).toLong))
      .reduce(_ + _)
    val denom = (wn * (wn + 1)) / 2
    candles
      .withColumn("s", (roc(r1) + roc(r2)).cast(DecimalType(18, 6)))
      .withColumn("wsum", weighted)
      .withColumn("gate", lag(col("s"), wn - 1).over(w))
      .where(col("gate").isNotNull)
      .select(col("symbol"), col("bucket_ts"),
        round(col("wsum").cast("double") / lit(denom.toDouble), 6).as("coppock"))
  }

  /** CHANDE MOMENTUM OSCILLATOR per symbol: 100·(Σup − Σdown)/(Σup +
    * Σdown) over `n`-bar frames, where up/down are the positive/negative
    * parts of the close change — RSI's unsmoothed cousin, bounded ±100,
    * whose symmetric numerator makes it the divergence-screen favorite.
    * Full frames only; flat frames (zero denominator) null.
    *
    * One per-symbol window (lag + both frame sums + the count gate);
    * up/down terms are 2-decimal close differences rounded back to 2 and
    * summed as exact DECIMAL(18,2) (the vortex recipe); the ratio is one
    * double division on exact sums, rounded at emission.
    */
  def cmo(candles: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 2, "n >= 2")
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val frame = w.rowsBetween(-(n - 1), 0)
    val dc = col("close") - col("prev_close")
    val up = round(greatest(dc, lit(0.0)), 2).cast(D)
    val dn = round(greatest(-dc, lit(0.0)), 2).cast(D)
    candles
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .where(col("prev_close").isNotNull)
      .withColumn("su", sum(up).over(frame))
      .withColumn("sd", sum(dn).over(frame))
      .withColumn("cnt", count(lit(1)).over(frame))
      .where(col("cnt") === n)
      .select(col("symbol"), col("bucket_ts"),
        round(lit(100.0) * (col("su").cast("double") - col("sd").cast("double")) /
          when(col("su") + col("sd") =!= 0,
            (col("su") + col("sd")).cast("double")), 6).as("cmo"))
  }

  /** DETRENDED PRICE OSCILLATOR per symbol: the close from n/2+1 bars ago
    * minus the CURRENT n-bar SMA — the displacement centers the average
    * on the compared price, stripping the trend and exposing the cycle
    * (the textbook construction; conventions vary, this one documented).
    * Full SMA frames with a defined displaced close only.
    *
    * One per-symbol window (frame sum + count + the displaced lag); the
    * SMA is an exact DECIMAL(18,2) frame sum divided once by the literal
    * n; the subtraction is one double op, rounded at emission.
    */
  def dpo(candles: DataFrame, n: Int = 20): DataFrame = {
    require(n >= 2, "n >= 2")
    val shift = n / 2 + 1
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val frame = w.rowsBetween(-(n - 1), 0)
    candles
      .withColumn("sc", sum(col("close").cast(D)).over(frame))
      .withColumn("cnt", count(lit(1)).over(frame))
      .withColumn("disp", lag(col("close"), shift).over(w))
      .where(col("cnt") === n && col("disp").isNotNull)
      .select(col("symbol"), col("bucket_ts"),
        round(col("disp") - col("sc").cast("double") / lit(n.toDouble), 6)
          .as("dpo"))
  }

  /** ELDER RAY per symbol: bull power = high − EMA₁₃(close), bear power =
    * low − EMA₁₃(close) — how far the bar's extremes push past the
    * consensus value line; Elder's triple-screen entries read the sign
    * and slope of the pair. The EMA is the engine's standard unrounded
    * sequential fold (the ema recipe, one symbol shuffle, O(1) state)
    * carried alongside the bar's high/low in the same sweep; powers
    * round at emission. α = 2/(n+1) spelled as the same double division
    * in both engines; the oracle folds closes via scalar list_reduce and
    * subtracts inside the rounded expression.
    */
  def elderRay(candles: DataFrame, n: Int = 13): DataFrame = {
    require(n >= 1, "n >= 1")
    val a = 2.0 / (n + 1)
    val b = 1.0 - a
    val spark = candles.sparkSession
    import spark.implicits._
    val rd = (v: Double) => BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"), col("close"))
      .as[(String, java.sql.Timestamp, Double, Double, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var e = 0.0
        it.map { case (s, t, h, l, c) =>
          if (s != cur) { cur = s; e = c }
          else e = a * c + b * e
          (s, t, rd(h - e), rd(l - e))
        }
      }
      .toDF("symbol", "bucket_ts", "bull_power", "bear_power")
  }

  /** FORCE INDEX per symbol: volume × close change, EMA-smoothed (n=13) —
    * Elder's "how much conviction moved the price" gauge combining the
    * three tradables (direction, extent, volume) into one line whose
    * zero-crossings time entries against the trend screen. The raw term
    * is an EXACT product (2-decimal close diff × 2-decimal volume — both
    * decimal-exact, the product a scale-4 decimal the double cast
    * renders identically in both engines); the EMA folds unrounded
    * doubles (the ema recipe), seeded at the first defined term, rounded
    * at emission. One symbol shuffle, O(1) sweep state; defined from
    * each symbol's second bar.
    */
  def forceIndex(candles: DataFrame, n: Int = 13): DataFrame = {
    require(n >= 1, "n >= 1")
    val a = 2.0 / (n + 1)
    val b = 1.0 - a
    val spark = candles.sparkSession
    import spark.implicits._
    val rd = (v: Double) => BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    candles.select(col("symbol"), col("bucket_ts"), col("close"), col("volume"))
      .as[(String, java.sql.Timestamp, Double, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var prevCents = 0L
        var havePrev = false
        var haveFi = false
        var e = 0.0
        it.flatMap { case (s, t, c, v) =>
          if (s != cur) { cur = s; havePrev = false; haveFi = false }
          val cents = Math.round(c * 100)
          val out =
            if (!havePrev) None
            else {
              // (Δclose in cents × volume in cents) / 1e4 is ONE correctly
              // rounded double of the exact scale-4 decimal product
              val fi = ((cents - prevCents) * Math.round(v * 100)) / 10000.0
              e = if (haveFi) a * fi + b * e else fi
              haveFi = true
              Some((s, t, rd(fi), rd(e)))
            }
          prevCents = cents; havePrev = true
          out
        }
      }
      .toDF("symbol", "bucket_ts", "force_index", "force_ema")
  }

  /** MASS INDEX per symbol (Dorsey): Σ₂₅ of EMA₉(range)/EMA₉(EMA₉(range))
    * — range expansion irrespective of direction; the classic "reversal
    * bulge" trigger fires when the 25-bar sum crests 27. The chained
    * double-EMA follows the trix convention (the inner EMA's FRESH value
    * feeds the outer; α = 0.2 exactly, complement computed as 1.0 − α);
    * per-bar ratios round to 6 and the 25-bar sum runs over their EXACT
    * micro-unit integers INSIDE the sweep (a span-deep ring — a window
    * after a mapPartitions sweep would re-shuffle, since Catalyst cannot
    * prove the sweep preserved the partitioning; and an exact integer
    * ring sidesteps the vortex windowed-double hazard the same way a
    * decimal window sum would). Full spans of defined ratios only (zero
    * outer EMA — an all-flat prefix — yields no ratio). One sweep
    * shuffle, O(span) state.
    */
  def massIndex(candles: DataFrame, n: Int = 9, span: Int = 25): DataFrame = {
    require(n >= 1 && span >= 1, "n >= 1 and span >= 1")
    val a = 2.0 / (n + 1)
    val b = 1.0 - a
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"))
      .as[(String, java.sql.Timestamp, Double, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        val ring = new Array[Long](span)
        var cur: String = null
        var e1 = 0.0; var e2 = 0.0
        var first = true
        var cnt = 0; var sumMicros = 0L
        it.flatMap { case (s, t, h, l) =>
          if (s != cur) { cur = s; first = true; cnt = 0; sumMicros = 0L }
          val r = h - l
          if (first) { e1 = r; e2 = r; first = false }
          else { e1 = a * r + b * e1; e2 = a * e1 + b * e2 }
          if (e2 == 0.0) None
          else {
            // exact scale-6 micro-units of the HALF_UP-rounded ratio: the
            // ring sum is an exact integer == the oracle's DECIMAL(18,6)
            // window sum
            val micros = BigDecimal(e1 / e2)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .underlying.unscaledValue.longValueExact
            if (cnt >= span) sumMicros -= ring(cnt % span)
            ring(cnt % span) = micros
            sumMicros += micros
            cnt += 1
            if (cnt < span) None
            else Some((s, t, sumMicros / 1000000.0))
          }
        }
      }
      .toDF("symbol", "bucket_ts", "mass_index")
      .withColumn("mass_index", round(col("mass_index"), 6))
  }

  /** TRIX per symbol — the 1-bar rate of change of a TRIPLE-smoothed EMA:
    * e1 = EMA_n(close), e2 = EMA_n(e1), e3 = EMA_n(e2), trix = 100·
    * (e3/e3_prev − 1). Three rounds of smoothing kill noise a single EMA
    * passes through, and the ROC re-centers it into a momentum
    * oscillator whose zero-crossings are the signal. A CHAINED recursion
    * (each EMA folds over the previous one's fresh output — e2 consumes
    * the CURRENT bar's e1, the standard construction, documented) that no
    * window expresses — the ema/holt sequential-sweep shape, one symbol
    * shuffle, O(1) three-scalar state.
    *
    * Determinism: default n = 9 makes α = 0.2 (exactly the literal-0.2
    * double, since 2.0/10.0 is correctly rounded) and the complement is
    * computed as 1.0 − α in BOTH engines (NOT spelled 0.8: 1 − fl(0.2)
    * ≠ fl(0.8) in doubles — the chaikin_osc literal-spelling lesson);
    * the fold runs on unrounded doubles in a fixed op order the oracle's
    * recursive CTE replays with textually-substituted e1/e2 expressions,
    * rounding at emission. First bar per symbol seeds e1 = e2 = e3 =
    * close, null trix; zero previous e3 null-guards the ROC.
    */
  def trix(candles: DataFrame, n: Int = 9): DataFrame = {
    require(n >= 1, "n >= 1")
    val a = 2.0 / (n + 1)
    val b = 1.0 - a
    val spark = candles.sparkSession
    import spark.implicits._
    val rd = (v: Double) => BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var e1 = 0.0; var e2 = 0.0; var e3 = 0.0
        var first = true
        it.map { case (s, t, c) =>
          if (s != cur) { cur = s; first = true }
          if (first) {
            e1 = c; e2 = c; e3 = c; first = false
            (s, t, c, rd(e3), Option.empty[Double])
          } else {
            val e3p = e3
            e1 = a * c + b * e1
            e2 = a * e1 + b * e2
            e3 = a * e2 + b * e3
            val tx =
              if (e3p != 0.0) Some(rd(100.0 * (e3 / e3p - 1.0))) else None
            (s, t, c, rd(e3), tx)
          }
        }
      }
      .toDF("symbol", "bucket_ts", "close", "e3", "trix")
  }

  /** KAMA per symbol — Kaufman's ADAPTIVE moving average: the smoothing
    * constant itself follows the market. Efficiency ratio ER = |close −
    * close_n_back| / Σ|Δclose| over the last `n` bars (1 = clean trend,
    * →0 = churn), squared-interpolated between the fast (2/(2+1)) and
    * slow (2/(30+1)) EMA constants, and folded as kama += sc²·(close −
    * kama). A VARIABLE-α recursion: the power-sum trick that makes plain
    * EMA window-expressible does not exist here, so this is the
    * ema/holt/supertrend sequential-sweep shape — one symbol shuffle,
    * in-partition sort, O(n)-ring state, each symbol streaming through
    * exactly one task (symbol cardinality ≫ cores at any real scale).
    *
    * Determinism: closes are 2-decimal, so the lag-n signal and the
    * `n`-diff noise sum are maintained as exact cent BIGINTs inside the
    * sweep (the oracle's DECIMAL(18,2) window sums compute the same
    * values); ER divides the two exactly-representable doubles and
    * rounds to 6 BEFORE entering the fold; the fold itself runs on
    * unrounded doubles in a fixed op order the oracle's recursive CTE
    * replays verbatim, rounded at emission. Seed: the first bar with a
    * full ER window seeds kama = close; earlier bars emit nothing.
    * A zero noise sum (flat window) takes ER = 0 (slowest smoothing).
    */
  def kama(candles: DataFrame, n: Int = 10): DataFrame = {
    require(n >= 2, "n >= 2")
    val spark = candles.sparkSession
    import spark.implicits._
    val rd = (v: Double) => BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        // ring of the last n+1 closes (cents) + circular n-deep |Δ| sum:
        // O(1) work and O(n) state per row, exact integer arithmetic
        val ring = new Array[Long](n + 1)
        val diffs = new Array[Long](n)
        var cur: String = null
        var i = 0; var noise = 0L; var k = 0.0
        it.flatMap { case (s, t, c) =>
          if (s != cur) { cur = s; i = 0; noise = 0L }
          val cents = Math.round(c * 100)
          if (i > 0) {
            val d = Math.abs(cents - ring((i - 1) % (n + 1)))
            if (i > n) noise -= diffs(i % n)
            diffs(i % n) = d
            noise += d
          }
          ring(i % (n + 1)) = cents
          i += 1
          if (i <= n) None
          else {
            val signal = Math.abs(cents - ring(i % (n + 1)))
            val er =
              if (noise == 0L) 0.0
              else rd((signal / 100.0) / (noise / 100.0))
            if (i == n + 1) k = c
            else {
              val sc = er * (0.6666666666666666 - 0.06451612903225806) +
                0.06451612903225806
              k = k + sc * sc * (c - k)
            }
            Some((s, t, c, er, rd(k)))
          }
        }
      }
      .toDF("symbol", "bucket_ts", "close", "er", "kama")
  }

  /** BILL WILLIAMS FRACTALS per symbol: a bar is an UP fractal when its
    * high is STRICTLY greater than the highs of the `side` bars on each
    * side, a DOWN fractal when its low is strictly lower than the
    * neighboring lows — the minimal swing-point detector feeding
    * breakout/alligator systems. Strictness is the documented tie
    * convention (the classic definition leaves ties ambiguous; strict
    * inequality makes detection deterministic and engine-stable: all
    * comparisons are between exact 2-decimal prices). Emits ONLY fractal
    * bars with both flags (a bar can be both in a spike). Bars without
    * `side` defined neighbors on BOTH sides never qualify (no partial
    * windows at series edges).
    *
    * One per-symbol window partitioning serves all 2·side lags and leads —
    * pure comparisons, no sums, no float hazards at all.
    */
  def fractals(candles: DataFrame, side: Int = 2): DataFrame = {
    require(side >= 1, "side >= 1")
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val offs = (1 to side)
    val up = offs.map(k => col("high") > lag(col("high"), k).over(w) &&
      col("high") > lead(col("high"), k).over(w)).reduce(_ && _)
    val dn = offs.map(k => col("low") < lag(col("low"), k).over(w) &&
      col("low") < lead(col("low"), k).over(w)).reduce(_ && _)
    val defined = offs.map(k => lag(col("high"), k).over(w).isNotNull &&
      lead(col("high"), k).over(w).isNotNull).reduce(_ && _)
    candles
      .withColumn("up_fractal", up)
      .withColumn("down_fractal", dn)
      .withColumn("def_", defined)
      .where(col("def_") && (col("up_fractal") || col("down_fractal")))
      .select(col("symbol"), col("bucket_ts"), col("high"), col("low"),
        col("up_fractal"), col("down_fractal"))
  }

  /** AWESOME OSCILLATOR per symbol (Bill Williams): SMA₅(midpoint) −
    * SMA₃₄(midpoint), midpoint = (high+low)/2 — the momentum read off bar
    * midpoints that drives the saucer/twin-peaks entries. The /2 of the
    * midpoint and the /n of each SMA are FOLDED into the frame sums'
    * closing divisions (midpoint-sum/2n): both frame sums are exact
    * DECIMAL(19,2) sums of high+low (2-decimal addition is exact), so the
    * whole indicator is two double divisions of exact sums and one
    * subtraction in fixed order, rounded at emission. Full long frames
    * only. One per-symbol window partitioning serves both frames (shared
    * sort, one shuffle).
    */
  def awesomeOsc(candles: DataFrame, n1: Int = 5, n2: Int = 34): DataFrame = {
    require(n1 >= 1 && n2 > n1, "1 <= n1 < n2")
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    def frame(n: Int) = w.rowsBetween(-(n - 1), 0)
    val hl = (col("high").cast(D) + col("low").cast(D))
    candles
      .withColumn("s1", sum(hl).over(frame(n1)))
      .withColumn("s2", sum(hl).over(frame(n2)))
      .withColumn("cnt", count(lit(1)).over(frame(n2)))
      .where(col("cnt") === n2)
      .select(col("symbol"), col("bucket_ts"),
        round(col("s1").cast("double") / lit(2.0 * n1) -
          col("s2").cast("double") / lit(2.0 * n2), 6).as("awesome_osc"))
  }

  /** KNOW SURE THING per symbol (Pring): KST = RCMA₁ + 2·RCMA₂ + 3·RCMA₃ +
    * 4·RCMA₄ where RCMAᵢ = SMA(ROC(rᵢ), sᵢ) over (r,s) = (10,10), (15,10),
    * (20,10), (30,15) — four momentum horizons smoothed and blended into
    * the long-cycle turn detector. Each ROC is one double division rounded
    * to 6 and cast DECIMAL(18,6). The naive blend — four double RCMA
    * divisions summed and rounded — lands on half-micro rounding ties
    * (measured at sf0.01, the emv hazard class), so the blend is folded
    * ALGEBRAICALLY over the exact frame sums instead: with common
    * denominator 30, KST = (3·S₁ + 6·S₂ + 9·S₃ + 8·S₄)/30 where Sᵢ are
    * the exact decimal frame sums — the weighted numerator stays exact
    * integer micro-units (headroom ~1e11 ≪ int64), the /30 is the
    * sign-aware half-up integer division ((2|N|+d) div 2d), and the
    * single closing IEEE division by 10⁶ is correctly rounded identically
    * in any engine. NO engine round() touches the blend. Defined where
    * the deepest dependency exists (lag 44 = ROC30's 30 + SMA15's 14 —
    * the coppock gate convention). ONE per-symbol window partitioning
    * serves all four ROC lags and all four frames.
    */
  def kst(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    def roc(k: Int) =
      round(lit(100.0) * (col("close") / when(lag(col("close"), k).over(w) =!= 0,
        lag(col("close"), k).over(w)) - lit(1.0)), 6).cast(DecimalType(18, 6))
    // exact frame sum in integer micro-units
    def su(c: org.apache.spark.sql.Column, s: Int) =
      (sum(c).over(w.rowsBetween(-(s - 1), 0)) * lit(1000000)).cast("long")
    candles
      .withColumn("r1", roc(10)).withColumn("r2", roc(15))
      .withColumn("r3", roc(20)).withColumn("r4", roc(30))
      .withColumn("u1", su(col("r1"), 10))
      .withColumn("u2", su(col("r2"), 10))
      .withColumn("u3", su(col("r3"), 10))
      .withColumn("u4", su(col("r4"), 15))
      .withColumn("gate", lag(col("close"), 44).over(w))
      .where(col("gate").isNotNull)
      // common denominator 30: 3u1/30 + 6u2/30 + 9u3/30 + 8u4/30
      .withColumn("nmicro",
        lit(3L) * col("u1") + lit(6L) * col("u2") +
          lit(9L) * col("u3") + lit(8L) * col("u4"))
      .withColumn("km", expr(
        "CASE WHEN nmicro >= 0 THEN (2 * nmicro + 30) div 60 " +
          "ELSE -((2 * -nmicro + 30) div 60) END"))
      .select(col("symbol"), col("bucket_ts"),
        (col("km").cast("double") / lit(1000000.0)).as("kst"))
  }

  /** RELATIVE VIGOR INDEX per symbol (Dorsey): conviction = where the
    * close sits relative to the open, normalized by range — RVI =
    * Σₙ SWMA(close−open) / Σₙ SWMA(high−low) with the symmetric 1-2-2-1
    * weighting, plus the SWMA signal line of RVI itself. The /6 inside
    * both SWMAs CANCELS in the ratio, so numerator and denominator are
    * kept as exact integer-weighted DECIMAL sums of 2-decimal differences
    * (never divided): the RVI is ONE double division of exact decimals,
    * rounded at emission. The signal line's own /6 does NOT cancel and
    * its weighted sums of 6-decimal values land on half-micro rounding
    * ties (measured at sf0.01 — the emv hazard class), so NO engine
    * round() touches it: the rounded RVI converts to exact integer
    * micro-units (cast through DECIMAL(18,6)), the 1-2-2-1 weighted sum
    * stays BIGINT, the /6 is the sign-aware half-up integer division
    * ((2|N|+d) div 2d — exact in any engine), and the single closing IEEE
    * division by 10⁶ is correctly rounded identically everywhere; null
    * until three prior RVI values exist (over the SURVIVING rows, the
    * mass_index convention). Zero-range frames null RVI (and poison the
    * signal frames they touch — nulls propagate, documented). Full frames
    * only. ONE per-symbol window partitioning serves the six lags and
    * both frame sums.
    */
  def rvi(candles: DataFrame, n: Int = 10): DataFrame = {
    require(n >= 1, "n >= 1")
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val frame = w.rowsBetween(-(n - 1), 0)
    def swma(c: org.apache.spark.sql.Column) =
      c + lit(2) * lag(c, 1).over(w) + lit(2) * lag(c, 2).over(w) +
        lag(c, 3).over(w)
    val co = round(col("close") - col("open"), 2).cast(D)
    val hl = round(col("high") - col("low"), 2).cast(D)
    val rviRaw =
      round(col("snum").cast("double") /
        when(col("sden") =!= 0, col("sden").cast("double")), 6)
    candles
      .withColumn("wn", swma(co))
      .withColumn("wd", swma(hl))
      .where(col("wd").isNotNull) // lag-3 gate: full SWMA terms only
      .withColumn("snum", sum(col("wn")).over(frame))
      .withColumn("sden", sum(col("wd")).over(frame))
      .withColumn("cnt", count(lit(1)).over(frame))
      .where(col("cnt") === n)
      .withColumn("rvi", rviRaw)
      .withColumn("rm",
        (col("rvi").cast(DecimalType(18, 6)) * lit(1000000)).cast("long"))
      .withColumn("nmicro",
        col("rm") + lit(2L) * lag(col("rm"), 1).over(w) +
          lit(2L) * lag(col("rm"), 2).over(w) + lag(col("rm"), 3).over(w))
      .withColumn("sigm", expr(
        "CASE WHEN nmicro >= 0 THEN (2 * nmicro + 6) div 12 " +
          "ELSE -((2 * -nmicro + 6) div 12) END"))
      .select(col("symbol"), col("bucket_ts"), col("rvi"),
        (col("sigm").cast("double") / lit(1000000.0)).as("rvi_signal"))
  }

  /** CONNORS RSI per symbol: the mean of THREE bounded 0–100 readings —
    * Cutler RSI(3) of close, Cutler RSI(2) of the SIGNED STREAK (run
    * length of consecutive up/down closes, 0 on a flat bar), and the
    * percent-rank of the current 1-bar ROC against the previous `nPr`
    * bars — the mean-reversion entry score that needs price, persistence,
    * and relative-magnitude to agree. The composite this engine showcases:
    * the streak is the GAPS-AND-ISLANDS idiom on ONE window partitioning
    * (group start = the cumulative max of flagged row_numbers; run length
    * = rn − start + 1 — no second (symbol, grp) shuffle), the
    * percent-rank compares against a bounded collect_list frame (exact
    * integer count over `nPr` literal), and the final mean of three
    * 6-rounded components runs the emv integer pipeline (micro BIGINTs,
    * half-up div 3) so NO engine round() touches the blend. Streak signs
    * come from exact decimal comparisons; streak RSI sums are exact
    * integer gains/losses; the zero-loss convention mirrors rsi (100).
    * Defined where every component is (full 3/2/nPr frames). Everything
    * on ONE per-symbol window partitioning.
    */
  def connorsRsi(candles: DataFrame, nRsi: Int = 3, nStreak: Int = 2,
                 nPr: Int = 100): DataFrame = {
    require(nRsi >= 2 && nStreak >= 2 && nPr >= 1, "spans")
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, 0)
    def cutler(gain: org.apache.spark.sql.Column,
               loss: org.apache.spark.sql.Column, n: Int) = {
      val sg = sum(gain).over(w.rowsBetween(-(n - 1), 0)).cast("double")
      val sl = sum(loss).over(w.rowsBetween(-(n - 1), 0)).cast("double")
      val cnt = count(gain).over(w.rowsBetween(-(n - 1), 0))
      (when(cnt === n,
        when(sl === 0.0, lit(100.0))
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + sg / sl))), cnt)
    }
    val d = col("close").cast(D) - col("prev").cast(D)
    val micro = (c: org.apache.spark.sql.Column) =>
      (round(c, 6).cast(DecimalType(18, 6)) * lit(1000000)).cast("long")
    val base = candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .withColumn("prev", lag(col("close"), 1).over(w))
      .withColumn("sgn", when(col("prev").isNull, lit(null))
        .when(d > 0, 1).when(d < 0, -1).otherwise(0))
      .withColumn("rn", row_number().over(w))
      .withColumn("flag",
        when(col("sgn").isNotNull &&
          (lag(col("sgn"), 1).over(w).isNull ||
            col("sgn") =!= lag(col("sgn"), 1).over(w)), col("rn")))
      .withColumn("start", max(col("flag")).over(wAll))
      .withColumn("streak",
        when(col("sgn").isNotNull,
          col("sgn") * (col("rn") - col("start") + 1)).cast("long"))
      .withColumn("roc",
        round(lit(100.0) * (col("close") /
          when(col("prev") =!= 0, col("prev")) - lit(1.0)), 6))
    require(100000000L % nPr == 0, "nPr must divide 100e6 for exact micro")
    val ds = col("streak") - col("prev_streak")
    // guard: rows without a previous streak contribute NULL terms (never a
    // spurious 0), so the frame count gates on real observations
    val gS = when(col("prev_streak").isNotNull, greatest(ds, lit(0L)))
    val lS = when(col("prev_streak").isNotNull, greatest(-ds, lit(0L)))
    val (rsiP, _) = cutler(
      greatest(d, lit(0).cast(D)), greatest(-d, lit(0).cast(D)), nRsi)
    val (rsiS, _) = cutler(gS, lS, nStreak)
    base
      .where(col("prev").isNotNull)
      .withColumn("prev_streak", lag(col("streak"), 1).over(w))
      .withColumn("m1", micro(rsiP))
      .withColumn("m2", micro(rsiS))
      .withColumn("prl", collect_list(col("roc")).over(w.rowsBetween(-nPr, -1)))
      .withColumn("m3",
        when(size(col("prl")) === nPr,
          size(filter(col("prl"), x => x < col("roc"))).cast("long") *
            lit(100000000L / nPr)))
      .where(col("m1").isNotNull && col("m2").isNotNull && col("m3").isNotNull)
      .withColumn("nmicro", col("m1") + col("m2") + col("m3"))
      .withColumn("km",
        expr("(2 * nmicro + 3) div 6")) // components are 0..100: never negative
      .select(col("symbol"), col("bucket_ts"),
        (col("km").cast("double") / lit(1000000.0)).as("connors_rsi"))
  }

  /** SCHAFF TREND CYCLE per symbol: MACD(23,50) run through TWO rounds of
    * 10-bar stochastic normalization, each damped by a 0.5-factor
    * recursion — Schaff's "MACD with a clock" that pins cycle turns to a
    * 0–100 band faster than MACD's own signal crossing. The whole chain
    * (two EMA folds + rolling min/max of a RECURSIVE quantity + two more
    * recursions) is ONE sequential sweep carrying two 10-deep rings (the
    * fisher_transform shape — any window here would re-shuffle); state =
    * two EMA scalars + two rings + two damping scalars, O(1). Stochastic
    * rounds emit 100·(v−mn)/(mx−mn), zero-range frames read 50 (neutral,
    * documented); each damping seeds at its first defined input. STC
    * emits UNROUNDED: every step is a fixed-order IEEE op on identical
    * inputs (bit-identical in any engine), and the 0.5 factors make
    * values dyadic-prone — exactly the class where an engine round()
    * splits at true half-micro ties (the alligator lesson). Oracle:
    * recursion #1 for MACD, window min/max over its output, recursion #2
    * carrying d1, its last-10 history list, and d2.
    */
  def schaffTrendCycle(candles: DataFrame, nFast: Int = 23, nSlow: Int = 50,
                       nStoch: Int = 10): DataFrame = {
    require(nFast >= 1 && nSlow > nFast && nStoch >= 1, "spans")
    val aF = 2.0 / (nFast + 1); val bF = 1.0 - aF
    val aS = 2.0 / (nSlow + 1); val bS = 1.0 - aS
    val spark = candles.sparkSession
    import spark.implicits._
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var eF = 0.0; var eS = 0.0
        val rM = new Array[Double](nStoch) // macd ring
        val rD = new Array[Double](nStoch) // d1 ring
        var k = 0; var d1 = 0.0; var d2 = 0.0
        var d1Seeded = false; var d2Seeded = false
        def minMax(r: Array[Double], n: Int): (Double, Double) = {
          var mn = r(0); var mx = r(0); var i = 1
          while (i < n) {
            if (r(i) < mn) mn = r(i); if (r(i) > mx) mx = r(i); i += 1
          }
          (mn, mx)
        }
        it.flatMap { case (s, t, c) =>
          if (s != cur) {
            cur = s; k = 0; d1Seeded = false; d2Seeded = false
          }
          if (k == 0) { eF = c; eS = c }
          else { eF = aF * c + bF * eF; eS = aS * c + bS * eS }
          val macd = eF - eS
          rM(k % nStoch) = macd
          val out = if (k + 1 >= nStoch) {
            val (mn, mx) = minMax(rM, nStoch)
            val st1 = if (mx != mn) 100.0 * ((macd - mn) / (mx - mn)) else 50.0
            d1 = if (!d1Seeded) { d1Seeded = true; st1 }
            else d1 + 0.5 * (st1 - d1)
            rD((k + 1 - nStoch) % nStoch) = d1
            if (k + 2 >= 2 * nStoch) {
              val (dn, dx) = minMax(rD, nStoch)
              val st2 = if (dx != dn) 100.0 * ((d1 - dn) / (dx - dn)) else 50.0
              d2 = if (!d2Seeded) { d2Seeded = true; st2 }
              else d2 + 0.5 * (st2 - d2)
              Some((s, t, d2))
            } else None
          } else None
          k += 1
          out
        }
      }
      .toDF("symbol", "bucket_ts", "stc")
  }

  /** TRUE STRENGTH INDEX per symbol (Blau): 100 · EMA₁₃(EMA₂₅(Δclose)) /
    * EMA₁₃(EMA₂₅(|Δclose|)) — the double-smoothed momentum ratio that
    * keeps RSI's boundedness while reacting like an EMA. A CHAINED
    * recursion (the outer EMA consumes the CURRENT bar's fresh inner
    * value — the trix convention) no window expresses ⇒ one sequential
    * sweep with four scalar states (inner/outer × signed/absolute).
    * Momentum terms are 2-decimal-rounded close changes (the cmo
    * spelling); each α is the double division BOTH engines compute
    * (2.0/26.0, 2.0/14.0) with the complement computed as 1.0 − α (never
    * a folded literal — the trix spelling lesson); all four EMAs seed at
    * the first momentum term (bar 2) and fold UNROUNDED doubles; rounding
    * only at emission, zero denominators (flat prefixes) null. The oracle
    * replays the fold as a recursive CTE with the fresh inner EMA
    * textually substituted.
    */
  def tsi(candles: DataFrame, n1: Int = 25, n2: Int = 13): DataFrame = {
    require(n1 >= 1 && n2 >= 1, "positive spans")
    val a1 = 2.0 / (n1 + 1); val b1 = 1.0 - a1
    val a2 = 2.0 / (n2 + 1); val b2 = 1.0 - a2
    val spark = candles.sparkSession
    import spark.implicits._
    val rd2 = (v: Double) => BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rd6 = (v: Double) => BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var prevClose = 0.0
        var em = 0.0; var eM = 0.0 // inner/outer EMA of momentum
        var ea = 0.0; var eA = 0.0 // inner/outer EMA of |momentum|
        var seeded = false
        it.flatMap { case (s, t, c) =>
          if (s != cur) { cur = s; seeded = false; prevClose = c; None }
          else {
            val m = rd2(c - prevClose); prevClose = c
            if (!seeded) {
              em = m; eM = m; ea = math.abs(m); eA = math.abs(m)
              seeded = true
            } else {
              em = a1 * m + b1 * em
              eM = a2 * em + b2 * eM
              ea = a1 * math.abs(m) + b1 * ea
              eA = a2 * ea + b2 * eA
            }
            val tsiV = if (eA != 0.0) Some(rd6(100.0 * (eM / eA))) else None
            Some((s, t, tsiV))
          }
        }
      }
      .toDF("symbol", "bucket_ts", "tsi")
  }

  /** FISHER TRANSFORM per symbol (Ehlers): the bar midpoint's position in
    * its n-bar range, EMA-damped (value = 0.33·x + 0.67·prev, carried
    * CLAMPED to ±0.999 — the documented convention for Ehlers' .99/.999
    * quirk) and mapped through 0.5·ln((1+v)/(1−v)) with its own 0.5/0.5
    * recursion — the transform that forces near-Gaussian tails so
    * turning points stand out; `fisher_signal` is the previous bar's
    * fisher (the classic trigger line). TWO chained recursions with a
    * rolling n-bar min/max ⇒ one sequential sweep carrying an n-deep
    * midpoint RING (a post-sweep window would re-shuffle — the
    * mass_index lesson; the ring keeps the canonical two-exchange
    * shape). State advances ONLY on full frames (partial windows are
    * skipped, seeds val=fish=0 at the first full bar — documented);
    * zero-range frames take x = 0 (neutral). Midpoints, positions, and
    * both recursions are fixed-order IEEE doubles (bit-identical in any
    * engine), ln is the engines' shared libm (the zipf precedent),
    * rounding only at emission. Oracle: rolling min/max via window
    * functions, then a recursive CTE over the full-frame rows with the
    * fresh value textually substituted into the ln.
    */
  def fisherTransform(candles: DataFrame, n: Int = 10): DataFrame = {
    require(n >= 1, "n >= 1")
    val spark = candles.sparkSession
    import spark.implicits._
    val rd6 = (v: Double) => BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"))
      .as[(String, java.sql.Timestamp, Double, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        val ring = new Array[Double](n)
        var cnt = 0
        var value = 0.0; var fish = 0.0
        it.flatMap { case (s, t, h, l) =>
          if (s != cur) { cur = s; cnt = 0; value = 0.0; fish = 0.0 }
          val mid = (h + l) / 2.0
          ring(cnt % n) = mid; cnt += 1
          if (cnt < n) None
          else {
            var mn = ring(0); var mx = ring(0)
            var i = 1
            while (i < n) {
              if (ring(i) < mn) mn = ring(i)
              if (ring(i) > mx) mx = ring(i)
              i += 1
            }
            val x = if (mx != mn) 2.0 * ((mid - mn) / (mx - mn)) - 1.0 else 0.0
            val v0 = 0.33 * x + 0.67 * value
            value = math.max(-0.999, math.min(0.999, v0))
            val prevFish = fish
            fish = 0.5 * math.log((1.0 + value) / (1.0 - value)) + 0.5 * fish
            val sig = if (cnt > n) Some(rd6(prevFish)) else None
            Some((s, t, rd6(fish), sig))
          }
        }
      }
      .toDF("symbol", "bucket_ts", "fisher", "fisher_signal")
  }

  /** WILLIAMS ALLIGATOR per symbol: three Wilder-smoothed moving averages
    * of close — jaw SMMA₁₃ displaced 8 bars forward, teeth SMMA₈
    * displaced 5, lips SMMA₅ displaced 3 — whose open/closed "mouth"
    * phases the trend-following entries. SMMA seeded at the first close
    * is exactly an EMA with α = 1/n (the engine's ema seed convention,
    * documented); the three folds run in ONE sequential sweep with O(1)
    * state, and each line's FORWARD displacement is served by a
    * shift-deep ring carried in the sweep (a post-sweep lag window would
    * re-shuffle — the mass_index lesson), so the whole operator keeps
    * the canonical two-exchange shape. α as the double division both
    * engines compute (1.0/13.0 …), complements 1.0 − α. The lines emit
    * UNROUNDED: the folds are pure fixed-order IEEE ops (bit-identical
    * in any engine), and α = 1/8 is EXACT in binary, so teeth values
    * land on TRUE half-micro ties where engine round()s legitimately
    * split by one ulp (measured at sf0.1) — the realized_jump
    * unrounded-but-bit-identical convention; displaced lines null until
    * their shift-th bar. Oracle: recursive CTE with three independent
    * folds + window lags for the displacement.
    */
  def alligator(candles: DataFrame): DataFrame = {
    val spark = candles.sparkSession
    import spark.implicits._
    val (aJ, aT, aL) = (1.0 / 13.0, 1.0 / 8.0, 1.0 / 5.0)
    val (bJ, bT, bL) = (1.0 - aJ, 1.0 - aT, 1.0 - aL)
    val (sJ, sT, sL) = (8, 5, 3)
    candles.select(col("symbol"), col("bucket_ts"), col("close"))
      .as[(String, java.sql.Timestamp, Double)]
      .transform(perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var j = 0.0; var tt = 0.0; var ll = 0.0
        val rj = new Array[Double](sJ); val rt = new Array[Double](sT)
        val rl = new Array[Double](sL)
        var k = 0
        it.map { case (s, t, c) =>
          if (s != cur) { cur = s; k = 0 }
          if (k == 0) { j = c; tt = c; ll = c }
          else {
            j = aJ * c + bJ * j; tt = aT * c + bT * tt; ll = aL * c + bL * ll
          }
          // read the displaced value BEFORE overwriting this bar's slot
          val jaw = if (k >= sJ) Some(rj(k % sJ)) else None
          val teeth = if (k >= sT) Some(rt(k % sT)) else None
          val lips = if (k >= sL) Some(rl(k % sL)) else None
          rj(k % sJ) = j; rt(k % sT) = tt; rl(k % sL) = ll
          k += 1
          (s, t, jaw, teeth, lips)
        }
      }
      .toDF("symbol", "bucket_ts", "jaw", "teeth", "lips")
  }
}
