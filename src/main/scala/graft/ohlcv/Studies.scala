package graft.ohlcv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical market studies over the candle frame — the hypothesis-test /
  * event-analysis layer above the per-candle indicators in [[Analytics]]:
  * random-walk diagnostics (variance ratio), jump detection (bipower
  * variation), seasonality (calendar effects), trend recency (Aroon), and
  * abnormal-return event studies. All derive from exactly the OHLCV rows
  * the reference persists (ccxt-ohlcv-fetch.py:35-51).
  *
  * Shared determinism recipe (hurst/returnMoments precedent): per-row
  * terms round to 6 and accumulate in exact DECIMAL partial sums
  * (order-insensitive across shuffles and engines); final formulas are
  * double in an op order the DuckDB oracles replay literally, rounded at
  * emission; divisors are null-guarded, never divide-by-zero.
  */
object Studies {

  private val D6 = DecimalType(18, 6)
  private val D12 = DecimalType(28, 12)

  /** Lo–MacKinlay VARIANCE RATIO per symbol: VR(q) = Var(r_q)/(q·Var(r_1))
    * over overlapping q-step log returns, q ∈ {2, 4, 8} — the classic
    * random-walk test (VR ≈ 1 random walk, > 1 momentum, < 1 mean
    * reversion), sharper than a point Hurst estimate because each horizon
    * gets its own ratio. Same scale shape as `hurst`: ONE per-symbol lag
    * window computes all four k-step returns, ONE map-side-combined
    * aggregation all variance co-moments (returns rounded to 6 into
    * DECIMAL(9,6), squares in exact DECIMAL(18,12)); the ratios are fixed-
    * order doubles. Horizons with < 2 observations or a non-positive
    * 1-step variance yield null via guarded divisors.
    */
  def varianceRatio(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val ks = Seq(1, 2, 4, 8)
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
    def v(k: Int) = {
      val nd = col(s"n$k").cast("double")
      col(s"s2_$k") / nd - (col(s"s1_$k") / nd) * (col(s"s1_$k") / nd)
    }
    def vr(k: Int) =
      round(v(k) / when(col(s"n$k") >= 2 && v(1) > 0, v(1)) / lit(k.toDouble), 6)
    lagged.groupBy(col("symbol"))
      .agg(aggs.head, aggs.tail: _*)
      .where(col("n1") >= 2)
      .select(col("symbol"), col("n1").as("n_rets"),
        vr(2).as("vr2"), vr(4).as("vr4"), vr(8).as("vr8"))
  }

  /** REALIZED-VARIANCE jump detection per (symbol, day) — Barndorff-
    * Nielsen & Shephard bipower variation: RV = Σ r² loads on the full
    * price path including jumps, BV = (π/2)·Σ|r_t||r_{t−1}| is jump-
    * robust, so jump = max(RV − BV, 0) isolates the discontinuous part —
    * the standard "was today's variance moves or gaps" decomposition from
    * intraday candles alone. Returns are intraday (the lag partitions by
    * (symbol, day), so no cross-midnight term), rounded to 6; both sums
    * accumulate in exact DECIMAL(28,12), so RV/BV are bit-identical
    * doubles in both engines WITHOUT emission rounding; π/2 is a literal
    * so no libm constant enters the compare. ONE window shuffle (both
    * lags share the partition) + one map-side-combined aggregation.
    */
  def realizedJump(candles: DataFrame): DataFrame = {
    val halfPi = 1.5707963267948966
    val w = Window.partitionBy(col("symbol"), col("day")).orderBy(col("bucket_ts"))
    val r = candles
      .select(col("symbol"), date_trunc("day", col("bucket_ts")).as("day"),
        col("bucket_ts"), col("close"))
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .where(col("prev_close").isNotNull && col("prev_close") > 0 && col("close") > 0)
      .withColumn("ret", round(log(col("close") / col("prev_close")), 6)
        .cast(DecimalType(9, 6)))
      .withColumn("prev_ret", lag(col("ret"), 1).over(w))
    r.groupBy(col("symbol"), col("day"))
      .agg(count(col("ret")).as("n_rets"),
        sum((col("ret") * col("ret")).cast(D12)).cast("double").as("rv"),
        sum((abs(col("ret")) * abs(col("prev_ret"))).cast(D12))
          .cast("double").as("bp"),
        count(col("prev_ret")).as("n_pairs"))
      .where(col("n_pairs") >= 1)
      .withColumn("bv", lit(halfPi) * col("bp"))
      .withColumn("jump", greatest(col("rv") - col("bv"), lit(0.0)))
      .select(col("symbol"), col("day"), col("n_rets"),
        col("rv"), col("bv"), col("jump"),
        round(col("jump") / when(col("rv") > 0, col("rv")), 6).as("jump_share"))
  }

  /** CALENDAR (day-of-week) return seasonality per symbol: mean and
    * population vol of the hourly return by weekday — the seasonality
    * screen behind execution scheduling and the classic weekend-effect
    * literature. Returns round to 6 into exact DECIMAL sums (squares in
    * DECIMAL(28,12)); mean/vol are fixed-order doubles on those exact
    * sums. ONE lag window + one map-side-combined aggregation; `dow`
    * follows Spark's dayofweek convention (1 = Sunday … 7 = Saturday; the
    * oracle shifts DuckDB's 0-based value to match).
    */
  def calendarEffects(candles: DataFrame): DataFrame = {
    Analytics.returns(candles).where(col("ret").isNotNull)
      .select(col("symbol"), dayofweek(col("bucket_ts")).as("dow"),
        round(col("ret"), 6).cast(D6).as("r"))
      .groupBy(col("symbol"), col("dow"))
      .agg(count(lit(1)).as("n"),
        sum(col("r")).cast("double").as("s1"),
        sum((col("r") * col("r")).cast(DecimalType(38, 12))).cast("double").as("s2"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("mu", col("s1") / col("nd"))
      .select(col("symbol"), col("dow"), col("n"),
        round(col("mu"), 6).as("mean_ret"),
        round(sqrt(greatest(col("s2") / col("nd") - col("mu") * col("mu"),
          lit(0.0))), 6).as("vol_ret"))
  }

  /** AROON trend-recency indicator per symbol: 100·(n − bars since the
    * n+1-bucket high)/n (and the low mirror) — "how fresh is the extreme",
    * the time-based complement to the level-based Donchian channel.
    * The windowed argmax is the part worth stating: "index of the max
    * high in the frame, most-recent on ties" is NOT directly a window
    * function in either engine, so both sides maximize ONE exact BIGINT
    * key = price-in-cents·1e9 + row-index (prices are 2-dp exact, indexes
    * are window-local < 1e9, so the packed max IS the lexicographic
    * (high, idx) max and ties resolve to the most recent bar — no struct
    * ordering, no float in the key; the low mirror packs 1e9 − cents).
    * ONE window shuffle serves row_number and both frame maxima; full
    * frames only; the 100·k/n emission is fixed-order double.
    */
  def aroon(candles: DataFrame, n: Int = 25): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val wf = w.rowsBetween(-n, 0)
    val B = 1000000000L
    val hm = round(col("high") * 100).cast("long")
    val lm = round(col("low") * 100).cast("long")
    val nd = lit(n.toDouble)
    candles
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("hkey", hm * B + col("idx"))
      .withColumn("lkey", (lit(B) - lm) * B + col("idx"))
      .withColumn("cnt", count(lit(1)).over(wf))
      .withColumn("hi_idx", max(col("hkey")).over(wf) % B)
      .withColumn("lo_idx", max(col("lkey")).over(wf) % B)
      .where(col("cnt") === n + 1)
      .select(col("symbol"), col("bucket_ts"),
        round(lit(100.0) * (nd - (col("idx") - col("hi_idx")).cast("double")) / nd, 6)
          .as("aroon_up"),
        round(lit(100.0) * (nd - (col("idx") - col("lo_idx")).cast("double")) / nd, 6)
          .as("aroon_down"))
      .withColumn("aroon_osc", round(col("aroon_up") - col("aroon_down"), 6))
  }

  /** Pairwise LEAD–LAG cross-correlation: for every symbol pair
    * (sym1 < sym2), the correlation of sym1's return with sym2's return
    * shifted by k ∈ {−2…2} buckets — the price-discovery screen ("whose
    * moves show up in whose future"): corr_m* correlate sym1's present
    * with sym2's PAST (sym2 leads), corr_p* with sym2's FUTURE (sym1
    * leads), corr_0 is the contemporaneous symbol_correlations value.
    *
    * Scale shape: ONE per-symbol window produces ALL four shifted return
    * columns (lags and leads ride the same sort), the pair join is the
    * blocked √n-replication equi-join symbol_correlations uses (never a
    * per-bucket all-pairs fan-out on a skewed time key), and all five
    * correlations come from ONE map-side-combined aggregation. Returns
    * round to 6 before the join so both engines correlate bit-identical
    * inputs; corr's pairwise-null semantics match across engines
    * (degenerate pairs null).
    */
  def leadLag(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val r = Analytics.returns(candles).where(col("ret").isNotNull)
      .select(col("symbol"), col("bucket_ts"), round(col("ret"), 6).as("ret"))
    val rl = r
      .withColumn("ret_m2", lag(col("ret"), 2).over(w))
      .withColumn("ret_m1", lag(col("ret"), 1).over(w))
      .withColumn("ret_p1", lead(col("ret"), 1).over(w))
      .withColumn("ret_p2", lead(col("ret"), 2).over(w))
    val n = r.agg(countDistinct(col("symbol"))).head().getLong(0)
    val b = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val left = r.select(col("symbol").as("sym1"), col("bucket_ts"), col("ret").as("ret1"))
      .withColumn("blk", explode(array((0 until b).map(lit(_)): _*)))
    val right = rl.select(col("symbol").as("sym2"), col("bucket_ts"),
      col("ret").as("ret2"), col("ret_m2"), col("ret_m1"), col("ret_p1"), col("ret_p2"))
      .withColumn("blk", pmod(hash(col("sym2")), lit(b)))
    left.join(right, Seq("bucket_ts", "blk"))
      .where(col("sym1") < col("sym2"))
      .groupBy(col("sym1"), col("sym2"))
      .agg(count(lit(1)).as("n_overlap"),
        round(corr(col("ret1"), col("ret_m2")), 6).as("corr_m2"),
        round(corr(col("ret1"), col("ret_m1")), 6).as("corr_m1"),
        round(corr(col("ret1"), col("ret2")), 6).as("corr_0"),
        round(corr(col("ret1"), col("ret_p1")), 6).as("corr_p1"),
        round(corr(col("ret1"), col("ret_p2")), 6).as("corr_p2"))
  }

  /** Pairs-trading SPREAD with hedge-ratio OLS per symbol pair — the
    * Engle–Granger first stage as a screen: per (sym1 < sym2), regress
    * close1 on close2 (exact-decimal co-moments, the trend_ols recipe),
    * then emit the residual spread close1 − (alpha + beta·close2) per
    * bucket with its z-score against the pair's own spread moments — the
    * mean-reversion entry signal. Degenerate pairs (flat close2, zero
    * spread variance) yield null beta/z via guarded divisors.
    *
    * Scale shape: the blocked pair join materializes ONCE and feeds both
    * the regression co-moments and the spread emission (stats are
    * pair-dim-scale and broadcast back); closes go through exact
    * DECIMAL(18,2) and the spread through rounded-6 DECIMAL sums, so both
    * moment passes are shuffle-order-exact in both engines.
    */
  def pairSpread(candles: DataFrame): DataFrame = {
    val d2 = DecimalType(18, 2)
    val dxy = DecimalType(38, 4)
    val c = candles.select(col("symbol"), col("bucket_ts"), col("close").cast(d2).as("c"))
    val n = c.agg(countDistinct(col("symbol"))).head().getLong(0)
    val b = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val left = c.select(col("symbol").as("sym1"), col("bucket_ts"), col("c").as("c1"))
      .withColumn("blk", explode(array((0 until b).map(lit(_)): _*)))
    val right = c.select(col("symbol").as("sym2"), col("bucket_ts"), col("c").as("c2"))
      .withColumn("blk", pmod(hash(col("sym2")), lit(b)))
    val pairs = graft.core.Materialize.once(
      left.join(right, Seq("bucket_ts", "blk"))
        .where(col("sym1") < col("sym2"))
        .select(col("sym1"), col("sym2"), col("bucket_ts"), col("c1"), col("c2")))
    val ols = pairs.groupBy(col("sym1"), col("sym2"))
      .agg(count(lit(1)).as("n"),
        sum(col("c1")).cast("double").as("sy"),
        sum(col("c2")).cast("double").as("sx"),
        sum((col("c2") * col("c2")).cast(dxy)).cast("double").as("sxx"),
        sum((col("c2") * col("c1")).cast(dxy)).cast("double").as("sxy"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("den", col("nd") * col("sxx") - col("sx") * col("sx"))
      .select(col("sym1"), col("sym2"),
        ((col("nd") * col("sxy") - col("sx") * col("sy")) /
          when(col("den") =!= 0, col("den"))).as("beta"))
    val spreads = pairs.join(broadcast(ols), Seq("sym1", "sym2"))
      .withColumn("spread",
        round(col("c1").cast("double") - col("beta") * col("c2").cast("double"), 6))
    val sstats = spreads.groupBy(col("sym1"), col("sym2"))
      .agg(count(col("spread")).as("sn"),
        sum(col("spread").cast(DecimalType(18, 6))).cast("double").as("ss1"),
        sum((col("spread").cast(DecimalType(18, 6)) * col("spread").cast(DecimalType(18, 6)))
          .cast(DecimalType(38, 12))).cast("double").as("ss2"))
    spreads.join(broadcast(sstats), Seq("sym1", "sym2"))
      .withColumn("mu", col("ss1") / col("sn"))
      .withColumn("variance",
        (col("ss2") - col("sn") * col("mu") * col("mu")) /
          when(col("sn") > 1, col("sn") - 1))
      .select(col("sym1"), col("sym2"), col("bucket_ts"),
        round(col("beta"), 6).as("beta"), col("spread"),
        round((col("spread") - col("mu")) /
          when(col("variance") > 0, sqrt(col("variance"))), 6).as("zscore"))
  }

  /** SUPERTREND band-following regime indicator per symbol — the ratchet
    * construction behind the most widely used stop-and-reverse overlay:
    * basic bands at mid ± mult·ATR (Wilder RMA ATR, seeded at the first
    * true range), where the FINAL upper band only ever ratchets DOWN while
    * price stays below it (and resets when the previous close escapes
    * above), the lower band mirrors, and the trend flips when the close
    * crosses the active band; the indicator emits the band price rides on.
    * A state recursion no window expresses — the renko/holt sequential-
    * sweep shape (one symbol shuffle, in-partition sort, O(n) sweep, O(1)
    * state), rounded at emission. Conventions documented: seed trend is
    * DOWN, flip checks the post-ratchet bands of the same candle.
    */
  def superTrend(candles: DataFrame, n: Int = 3, mult: Double = 1.0): DataFrame = {
    require(n >= 1 && mult > 0, "n >= 1 and mult > 0")
    val spark = candles.sparkSession
    import spark.implicits._
    val rd = (v: Double) => BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"), col("close"))
      .as[(String, java.sql.Timestamp, Double, Double, Double)]
      .transform(Analytics.perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var prevClose = 0.0; var atr = 0.0; var fu = 0.0; var fl = 0.0
        var up = false; var first = true
        it.map { case (s, t, h, l, c) =>
          if (s != cur) { cur = s; first = true }
          val tr =
            if (first) h - l
            else math.max(h - l,
              math.max(math.abs(h - prevClose), math.abs(l - prevClose)))
          atr = if (first) tr else (atr * (n - 1) + tr) / n
          val mid = (h + l) / 2
          val bu = mid + mult * atr
          val bl = mid - mult * atr
          if (first) { fu = bu; fl = bl; up = false; first = false }
          else {
            fu = if (bu < fu || prevClose > fu) bu else fu
            fl = if (bl > fl || prevClose < fl) bl else fl
            if (!up && c > fu) up = true
            else if (up && c < fl) up = false
          }
          prevClose = c
          (s, t, rd(atr), rd(if (up) fl else fu), up)
        }
      }
      .toDF("symbol", "bucket_ts", "atr", "supertrend", "trend_up")
  }

  /** EVENT STUDY around volume shocks: cumulative abnormal return over a
    * ±`window`-bucket index window centered on each volume-anomaly bucket
    * (volume z-score ≥ `z`, the volumeAnomaly screen) — the standard
    * "does the price drift into/out of the shock" analysis, here with the
    * engine's own anomaly screen as the event source. Abnormal return =
    * ret − the symbol's mean return; CAR accumulates rounded ARs in exact
    * DECIMAL(18,6) over the event frame ordered by offset (order-exact in
    * both engines because the sum is over exact decimals).
    *
    * Scale shape: the candle frame (with index and return from ONE window
    * pass) is cut once and feeds three consumers (stats, the event
    * screen, the offset join). Events are rare by construction (≥ zσ), so
    * the exploded (event × 2·window+1 offsets) frame is dim-scale and
    * BROADCAST into the index equi-join — no range join, no second fact
    * shuffle. Per-symbol stats are one map-side-combined aggregation,
    * broadcast back.
    */
  def eventStudy(candles0: DataFrame, z: Double = 2.0, window: Int = 3): DataFrame = {
    val d2 = DecimalType(18, 2)
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val candles = graft.core.Materialize.once(candles0
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .withColumn("ret", round((col("close") - col("prev_close")) /
        when(col("prev_close") =!= 0, col("prev_close")), 6)))
    val stats = candles.groupBy(col("symbol")).agg(
      count(lit(1)).as("n"),
      sum(col("volume").cast(d2)).cast("double").as("sv1"),
      sum((col("volume").cast(d2) * col("volume").cast(d2))
        .cast(DecimalType(38, 4))).cast("double").as("sv2"),
      count(col("ret")).as("nr"),
      sum(col("ret").cast(D6)).cast("double").as("sr1"))
    val ev = candles.join(broadcast(stats), "symbol")
      // n > 1 before the n-1 division: ANSI turns the single-candle
      // symbol into DIVIDE_BY_ZERO (the volume_anomaly singleton fix);
      // identical result set — var_v > 0 already excluded n = 1
      .where(col("n") > 1)
      .withColumn("mu_v", col("sv1") / col("n"))
      .withColumn("var_v",
        (col("sv2") - col("n") * col("mu_v") * col("mu_v")) / (col("n") - 1))
      .where(col("var_v") > 0)
      .where(round((col("volume") - col("mu_v")) / sqrt(col("var_v")), 6) >= z)
      .select(col("symbol"), col("idx").as("ev_idx"), col("bucket_ts").as("event_ts"))
    val pairs = ev
      .withColumn("off", explode(array((-window to window).map(lit(_)): _*)))
      .withColumn("idx", col("ev_idx") + col("off"))
    val meanRet = stats.where(col("nr") >= 1)
      .select(col("symbol"), (col("sr1") / col("nr").cast("double")).as("mean_ret"))
    val wcar = Window.partitionBy(col("symbol"), col("event_ts")).orderBy(col("off"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    candles.select(col("symbol"), col("idx"), col("ret"))
      .join(broadcast(pairs), Seq("symbol", "idx"))
      .where(col("ret").isNotNull)
      .join(broadcast(meanRet), Seq("symbol"))
      .withColumn("ar", round(col("ret") - col("mean_ret"), 6).cast(D6))
      .withColumn("car", sum(col("ar")).over(wcar).cast("double"))
      .select(col("symbol"), col("event_ts"), col("off"), col("ret"),
        col("ar").cast("double").as("ar"), col("car"))
  }

  /** PARABOLIC SAR per symbol (Wilder) — the accelerating stop-and-reverse
    * overlay: SAR chases price by af·(EP − SAR) with the acceleration
    * factor stepping 0.02 per new extreme up to 0.2, clamped outside the
    * prior two bars' range, and flipping (SAR ← EP, af reset) when price
    * crosses it. THE stateful indicator — four mutually-dependent state
    * variables (direction, SAR, EP, af) with data-dependent resets that
    * no window or power-sum trick can express: the supertrend/holt
    * sequential-sweep shape (one symbol shuffle, O(n) sweep, O(1) state).
    *
    * Conventions (documented; implementations differ): emission starts at
    * each symbol's SECOND bar; the seed direction is up iff close₂ ≥
    * close₁; the seed SAR is the two-bar extreme opposite the trend
    * (min low for up), seed EP the extreme with it (max high for up);
    * the clamp uses the PREVIOUS two bars' lows (up) / highs (down); the
    * reversal check runs against the post-clamp SAR of the SAME bar; on
    * reversal SAR jumps to the old EP and EP restarts at the current
    * bar's extreme. Pure double arithmetic in a fixed op order, rounded
    * at emission — StudiesSpec replays the fold independently and pins
    * the trend/stop invariants.
    */
  def psar(candles: DataFrame, step: Double = 0.02, maxAf: Double = 0.2): DataFrame = {
    require(step > 0 && maxAf >= step, "step > 0 and maxAf >= step")
    val spark = candles.sparkSession
    import spark.implicits._
    val rd = (v: Double) => BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    candles.select(col("symbol"), col("bucket_ts"), col("high"), col("low"), col("close"))
      .as[(String, java.sql.Timestamp, Double, Double, Double)]
      .transform(Analytics.perSymbolSweep)
      .mapPartitions { it =>
        var cur: String = null
        var nSeen = 0
        var h1 = 0.0; var l1 = 0.0; var c1 = 0.0 // previous bar
        var h2 = 0.0; var l2 = 0.0               // bar before that
        var up = false; var sar = 0.0; var ep = 0.0; var af = 0.0
        it.flatMap { case (s, t, h, l, c) =>
          if (s != cur) { cur = s; nSeen = 0 }
          nSeen += 1
          val out =
            if (nSeen == 1) None
            else if (nSeen == 2) {
              up = c >= c1
              sar = if (up) math.min(l1, l) else math.max(h1, h)
              ep = if (up) math.max(h1, h) else math.min(l1, l)
              af = step
              Some((s, t, rd(sar), up))
            } else {
              var sn = sar + af * (ep - sar)
              if (up) {
                sn = math.min(sn, math.min(l1, l2))
                if (l < sn) { // reversal down
                  up = false; sar = ep; ep = l; af = step
                } else {
                  sar = sn
                  if (h > ep) { ep = h; af = math.min(af + step, maxAf) }
                }
              } else {
                sn = math.max(sn, math.max(h1, h2))
                if (h > sn) { // reversal up
                  up = true; sar = ep; ep = h; af = step
                } else {
                  sar = sn
                  if (l < ep) { ep = l; af = math.min(af + step, maxAf) }
                }
              }
              Some((s, t, rd(sar), up))
            }
          h2 = h1; l2 = l1; h1 = h; l1 = l; c1 = c
          out
        }
      }
      .toDF("symbol", "bucket_ts", "psar", "trend_up")
  }

  /** RISK-ADJUSTED return ratios per symbol — the three screens every
    * strategy report leads with, per bar (un-annualized: annualization is
    * one literal multiplier the caller owns, and leaving it off keeps the
    * numbers engine-stable): Sharpe = mean(r)/σ(r); Sortino =
    * mean(r)/downside-σ (half-variance below 0 over ALL n — the
    * convention that doesn't reward missing data); Calmar = mean(r)/max
    * drawdown. Returns are close-to-close simple returns rounded to 6
    * (the rolling_beta recipe).
    *
    * Scale shape: the return lag and the running close max share ONE
    * per-symbol window shuffle; the closing aggregation reuses the
    * partitioning, map-side combined. Determinism: Σr in DECIMAL(18,6)
    * and Σr², Σmin(r,0)² in exact DECIMAL(38,12); the drawdown is a
    * per-row double ratio rounded to 6 whose MAX (not sum) aggregates —
    * order-free; final ratios are fixed-order doubles with null-guarded
    * divisors (σ = 0, no drawdown, or n < 2 ⇒ null).
    */
  def riskRatios(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val runmax = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = col("ret")
    val r2 = (r * r).cast(DecimalType(38, 12))
    val down2 = when(r < 0, r2).otherwise(lit(0).cast(DecimalType(38, 12)))
    candles
      .select(col("symbol"), col("bucket_ts"), col("close"))
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .withColumn("peak", max(col("close")).over(runmax))
      .withColumn("dd", round((col("peak") - col("close")) /
        when(col("peak") =!= 0, col("peak")), 6))
      .withColumn("ret", when(col("prev_close").isNotNull &&
        col("prev_close") =!= 0,
        round((col("close") - col("prev_close")) / col("prev_close"), 6)
          .cast(D6)))
      .groupBy(col("symbol"))
      .agg(
        count(col("ret")).as("n"),
        sum(col("ret")).cast("double").as("s1"),
        sum(r2).cast("double").as("s2"),
        sum(down2).cast("double").as("sd2"),
        max(col("dd")).as("max_dd"))
      .where(col("n") >= 2)
      .withColumn("nd", col("n").cast("double"))
      .withColumn("mean", col("s1") / col("nd"))
      .withColumn("variance",
        (col("s2") - col("s1") * col("s1") / col("nd")) / col("nd"))
      .select(col("symbol"), col("n"),
        round(col("mean"), 6).as("mean_ret"),
        round(col("mean") / when(col("variance") > 0, sqrt(col("variance"))), 6)
          .as("sharpe"),
        round(col("mean") / when(col("sd2") > 0, sqrt(col("sd2") / col("nd"))), 6)
          .as("sortino"),
        round(col("mean") / when(col("max_dd") > 0, col("max_dd")), 6)
          .as("calmar"),
        col("max_dd"))
  }

  /** ULCER INDEX per symbol (Martin): the ROOT-MEAN-SQUARE percentage
    * drawdown from the running peak — the drawdown statistic that charges
    * for both depth AND duration, where max_drawdown only sees the single
    * worst dip; plus the Martin ("ulcer performance") ratio mean(r)/UI.
    * The natural companion to riskRatios (Calmar's denominator is the
    * max; UI is the RMS).
    *
    * Scale shape: lag + running max in ONE per-symbol window shuffle;
    * the aggregation reuses the partitioning. Determinism: per-row
    * drawdown-% rounds to 6 into DECIMAL(18,6) and its square sums in
    * exact DECIMAL(38,12); UI and Martin are fixed-order doubles with
    * guarded divisors.
    */
  def ulcerIndex(candles: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket_ts"))
    val runmax = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    candles
      .select(col("symbol"), col("bucket_ts"), col("close"))
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .withColumn("peak", max(col("close")).over(runmax))
      .withColumn("dd", round(lit(100.0) * (col("peak") - col("close")) /
        when(col("peak") =!= 0, col("peak")), 6).cast(D6))
      .withColumn("ret", when(col("prev_close").isNotNull &&
        col("prev_close") =!= 0,
        round((col("close") - col("prev_close")) / col("prev_close"), 6)
          .cast(D6)))
      .groupBy(col("symbol"))
      .agg(
        count(lit(1)).as("n"),
        sum((col("dd") * col("dd")).cast(DecimalType(38, 12)))
          .cast("double").as("sdd2"),
        sum(col("ret")).cast("double").as("s1"),
        count(col("ret")).as("nr"))
      .withColumn("ui", sqrt(col("sdd2") / col("n").cast("double")))
      .select(col("symbol"), col("n"),
        round(col("ui"), 6).as("ulcer_index"),
        round((col("s1") / when(col("nr") > 0, col("nr").cast("double"))) /
          when(col("ui") > 0, col("ui")), 6).as("martin"))
  }
}
