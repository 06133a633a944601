package graft

import graft.ohlcv.{Analytics, Microstructure, Studies}
import org.apache.spark.sql.functions._

/** Round-10 market-studies family: Kyle lambda, variance ratio, bipower
  * jump detection, calendar effects, Aroon, event study — hand-computed
  * constructions for each estimator's defining property.
  */
class StudiesSpec extends SparkSpec {

  test("kyleLambda: hand-computed OLS slope on constructed flow/impact") {
    import spark.implicits._
    // three buckets with (flow, close-open) = (10,1), (2,2), (-10,-1):
    //   h0: t1 unclassified (no prior tick), t2 up(+10)    -> flow 10, dp 1
    //   h1: t1 down(-4), t2 up(+6)                          -> flow  2, dp 2
    //   h2: t1 down(-8), t2 down(-2)                        -> flow -10, dp -1
    // sxy = 10*1 + 2*2 + (-10)(-1) = 24, sx = sy = 2, sxx = 204
    // slope = (3*24 - 2*2)/(3*204 - 2*2) = 68/608; x1e6, round 6
    val trades = Seq(
      ("K", ts(T0 + 0), 100.0, 5.0), ("K", ts(T0 + 60), 101.0, 10.0),
      ("K", ts(T0 + 3600), 100.0, 4.0), ("K", ts(T0 + 3660), 102.0, 6.0),
      ("K", ts(T0 + 7200), 101.0, 8.0), ("K", ts(T0 + 7260), 100.0, 2.0))
      .toDF("symbol", "ts", "price", "qty")
    val r = Microstructure.kyleLambda(trades, 3600000000L).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_buckets") == 3L)
    val exp = math.rint(68.0 / 608.0 * 1000000.0 * 1e6) / 1e6
    assert(math.abs(r.head.getAs[Double]("kyle_lambda") - exp) < 1e-9,
      s"expected $exp: ${r.head}")
  }

  test("varianceRatio: perfect mean reversion pins VR = 0; flat pins null") {
    import spark.implicits._
    // alternating log-price: every q-step return for even q is exactly 0
    val alt = (0 until 64).map(i =>
      ("MR", ts(T0 + i * 3600), if (i % 2 == 0) 100.0 else 110.0))
      .toDF("symbol", "bucket_ts", "close")
    val r = Studies.varianceRatio(alt).collect().head
    assert(r.getAs[Long]("n_rets") == 63L)
    Seq("vr2", "vr4", "vr8").foreach { c =>
      assert(r.getAs[Double](c) == 0.0, s"$c should be 0: $r")
    }
    // constant price: Var(r_1) = 0 -> guarded null, never divide-by-zero
    val flat = (0 until 16).map(i => ("F", ts(T0 + i * 3600), 100.0))
      .toDF("symbol", "bucket_ts", "close")
    val f = Studies.varianceRatio(flat).collect().head
    Seq("vr2", "vr4", "vr8").foreach(c => assert(f.isNullAt(f.fieldIndex(c)), s"$c: $f"))
  }

  test("realizedJump: an isolated gap is pure jump (BV = 0, share = 1)") {
    import spark.implicits._
    // flat, one 2x gap, flat again - all within one day: every adjacent
    // |r_t||r_{t-1}| product touches a zero return, so BV = 0 and
    // jump = RV = round(ln 2, 6)^2 exactly
    val closes = Seq.fill(5)(100.0) ++ Seq.fill(5)(200.0)
    val candles = closes.zipWithIndex.map { case (c, i) =>
      ("J", ts(T0 + i * 3600), c)
    }.toDF("symbol", "bucket_ts", "close")
    val r = Studies.realizedJump(candles).collect().head
    val lnTwo = math.rint(math.log(2.0) * 1e6) / 1e6
    assert(r.getAs[Long]("n_rets") == 9L)
    assert(math.abs(r.getAs[Double]("rv") - lnTwo * lnTwo) < 1e-12, r.toString)
    assert(r.getAs[Double]("bv") == 0.0, r.toString)
    assert(math.abs(r.getAs[Double]("jump") - lnTwo * lnTwo) < 1e-12, r.toString)
    assert(r.getAs[Double]("jump_share") == 1.0, r.toString)
  }

  test("realizedJump: constant drift has no jump (BV clamps it to zero)") {
    import spark.implicits._
    // identical returns: BV = (pi/2)*(n-1)*r^2 >= n*r^2 = RV for n = 24,
    // so the decomposition clamps at jump = 0
    val candles = (0 until 24).map(i =>
      ("D", ts(T0 + i * 3600), 100.0 * math.pow(1.01, i)))
      .toDF("symbol", "bucket_ts", "close")
    val r = Studies.realizedJump(candles).collect().head
    assert(r.getAs[Double]("jump") == 0.0, r.toString)
    assert(r.getAs[Double]("jump_share") == 0.0, r.toString)
  }

  test("calendarEffects: constant return pins mean, zero vol, Spark dow") {
    import spark.implicits._
    // T0 is Monday 2024-01-01; three closes -> two returns of exactly 0.1
    val candles = Seq(100.0, 110.0, 121.0).zipWithIndex.map { case (c, i) =>
      ("C", ts(T0 + i * 3600), c)
    }.toDF("symbol", "bucket_ts", "close")
    val r = Studies.calendarEffects(candles).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Int]("dow") == 2, s"Monday is 2 in Spark: ${r.head}")
    assert(r.head.getAs[Long]("n") == 2L)
    assert(r.head.getAs[Double]("mean_ret") == 0.1)
    assert(r.head.getAs[Double]("vol_ret") == 0.0)
  }

  test("aroon: rising series pins up=100/down=0; equal highs tie to recent") {
    import spark.implicits._
    val rising = (0 until 30).map(i =>
      ("A", ts(T0 + i * 3600), 100.0 + i, 90.0 + i)).toDF("symbol", "bucket_ts", "high", "low")
    val r = Studies.aroon(rising).orderBy(col("bucket_ts")).collect()
    assert(r.length == 30 - 25, s"full 26-row frames only: ${r.length}")
    r.foreach { row =>
      assert(row.getAs[Double]("aroon_up") == 100.0, row.toString)
      assert(row.getAs[Double]("aroon_down") == 0.0, row.toString)
      assert(row.getAs[Double]("aroon_osc") == 100.0, row.toString)
    }
    // all-equal highs/lows: the packed key ties break to the MOST RECENT
    // bar, so both sides read 100 (extreme is always "now")
    val flat = (0 until 30).map(i => ("F", ts(T0 + i * 3600), 100.0, 90.0))
      .toDF("symbol", "bucket_ts", "high", "low")
    val f = Studies.aroon(flat).collect()
    f.foreach { row =>
      assert(row.getAs[Double]("aroon_up") == 100.0, row.toString)
      assert(row.getAs[Double]("aroon_down") == 100.0, row.toString)
    }
  }

  test("adl: close position in range weights the volume; zero-range is 0") {
    import spark.implicits._
    // clv: 0 (mid-range), +1 (close at high), -1 (close at low), null->0
    val candles = Seq(
      ("A", ts(T0), 110.0, 90.0, 100.0, 10.0),
      ("A", ts(T0 + 3600), 120.0, 100.0, 120.0, 5.0),
      ("A", ts(T0 + 7200), 130.0, 110.0, 110.0, 4.0),
      ("A", ts(T0 + 10800), 110.0, 110.0, 110.0, 100.0))
      .toDF("symbol", "bucket_ts", "high", "low", "close", "volume")
    val r = graft.ohlcv.Analytics.adl(candles).orderBy(col("bucket_ts"))
      .collect().map(_.getAs[Double]("adl")).toSeq
    assert(r == Seq(0.0, 5.0, 1.0, 1.0), r.toString)
  }

  test("chaikinOsc: hand-folded EMA3/EMA10 over the hand-built ADL line") {
    import spark.implicits._
    // same candles as the adl pin -> adl (0, 5, 1, 1); fold both EMAs:
    // e3 = (0, 2.5, 1.75, 1.375); e10 = (0, 10/11, 112/121, 1250/1331)
    val candles = Seq(
      ("A", ts(T0), 110.0, 90.0, 100.0, 10.0),
      ("A", ts(T0 + 3600), 120.0, 100.0, 120.0, 5.0),
      ("A", ts(T0 + 7200), 130.0, 110.0, 110.0, 4.0),
      ("A", ts(T0 + 10800), 110.0, 110.0, 110.0, 100.0))
      .toDF("symbol", "bucket_ts", "high", "low", "close", "volume")
    val r = graft.ohlcv.Analytics.chaikinOsc(candles)
      .orderBy(col("bucket_ts")).collect()
      .map(x => (x.getAs[Double]("adl"), x.getAs[Double]("chaikin_osc"))).toSeq
    val exp = Seq((0.0, 0.0), (5.0, 1.590909), (1.0, 0.82438), (1.0, 0.435856))
    assert(r == exp, r.toString)
  }

  test("superTrend: hand-folded ratchet, reset, and flip (n=3, mult=1)") {
    import spark.implicits._
    val candles = Seq(
      ("S", ts(T0), 110.0, 90.0, 100.0),
      ("S", ts(T0 + 3600), 112.0, 92.0, 111.0),
      ("S", ts(T0 + 7200), 125.0, 105.0, 124.0),
      ("S", ts(T0 + 10800), 126.0, 118.0, 120.0))
      .toDF("symbol", "bucket_ts", "high", "low", "close")
    val r = Studies.superTrend(candles).orderBy(col("bucket_ts")).collect()
      .map(x => (x.getAs[Double]("atr"), x.getAs[Double]("supertrend"),
        x.getAs[Boolean]("trend_up"))).toSeq
    // c1: atr 20, bands (120, 80), seed down -> rides fu 120
    // c2: fl ratchets 80->82, still down, fu holds 120
    // c3: close 124 > fu 120 -> FLIP UP, rides fl 95
    // c4: atr (2*20+8)/3 = 16; prevClose 124 > fu -> fu resets 138; fl 106
    val exp = Seq((20.0, 120.0, false), (20.0, 120.0, false),
      (20.0, 95.0, true), (16.0, 106.0, true))
    assert(r == exp, r.toString)
  }

  test("superTrend: per-symbol state independence") {
    import spark.implicits._
    val candles = (Seq(("A", 0, 110.0, 90.0, 100.0), ("A", 1, 150.0, 130.0, 149.0)) ++
      Seq(("B", 0, 50.0, 40.0, 45.0)))
      .map { case (s, i, h, l, c) => (s, ts(T0 + i * 3600), h, l, c) }
      .toDF("symbol", "bucket_ts", "high", "low", "close")
    val r = Studies.superTrend(candles).collect()
      .map(x => (x.getString(0), x.getAs[Double]("atr"))).toMap
    assert(r("B") == 10.0, s"B's ATR must be its own seed TR: $r")
  }

  test("embeddingOutliers: worst-fitting cell member flags; flat cell is null") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)),
      (3L, Seq(0.8f, 0.6f)), // cos to [1,0] = 0.8 -> the anti-prototype
      (10L, Seq(0f, 1f)), (11L, Seq(0f, 1f))) // flat cell: var 0 -> null z
      .toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val r = graft.ops.Ivf.embeddingOutliers(emb, graft.ops.Ivf.Flat(cents), z = 1.0).collect()
      .map(x => x.getAs[Long]("vec_id") ->
        (x.getAs[Double]("ccos"), x.isNullAt(x.fieldIndex("zscore")),
          x.getAs[Boolean]("is_outlier"))).toMap
    assert(r.size == 6, r.toString)
    // cell A: ccos (1,1,1,0.8), mu .95, sd .1 -> z (.5,.5,.5,-1.5)
    assert(r(3L) == ((0.8, false, true)), r.toString)
    Seq(0L, 1L, 2L).foreach(v => assert(r(v) == ((1.0, false, false)), r.toString))
    // cell B: zero variance -> null z, never an outlier
    Seq(10L, 11L).foreach(v => assert(r(v) == ((1.0, true, false)), r.toString))
  }

  test("leadLag: a one-bucket follower pins corr_p1 = 1 (leader's edge)") {
    import spark.implicits._
    // B's close path is A's delayed one bucket, so retB_{t+1} == retA_t
    // EXACTLY (same closes, same division): corr(retA_t, B's next) = 1
    val aCloses = Seq(100.0, 110.0, 132.0, 118.8, 154.44, 123.552, 135.9072, 115.52112)
    val bCloses = aCloses.head +: aCloses.init
    val candles = (aCloses.zipWithIndex.map { case (c, i) => ("A", ts(T0 + i * 3600), c) } ++
      bCloses.zipWithIndex.map { case (c, i) => ("B", ts(T0 + i * 3600), c) })
      .toDF("symbol", "bucket_ts", "close")
    val r = Studies.leadLag(candles).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("sym1") == "A" && row.getAs[String]("sym2") == "B")
    assert(row.getAs[Double]("corr_p1") == 1.0, row.toString)
    assert(math.abs(row.getAs[Double]("corr_0")) < 1.0, row.toString)
  }

  test("pairSpread: exact linear relation pins beta, zero spread, null z") {
    import spark.implicits._
    // c1 = 2*c2 exactly: OLS recovers beta 2, every spread is 0, and the
    // zero-variance z-score guard yields null (never divide-by-zero)
    val candles = (Seq(10.0, 20.0, 30.0, 40.0).zipWithIndex.flatMap { case (c, i) =>
      Seq(("Y", ts(T0 + i * 3600), 2 * c), ("Z", ts(T0 + i * 3600), c))
    }).toDF("symbol", "bucket_ts", "close")
    val r = Studies.pairSpread(candles).collect()
    assert(r.length == 4)
    r.foreach { row =>
      assert(row.getAs[String]("sym1") == "Y" && row.getAs[String]("sym2") == "Z")
      assert(row.getAs[Double]("beta") == 2.0, row.toString)
      assert(row.getAs[Double]("spread") == 0.0, row.toString)
      assert(row.isNullAt(row.fieldIndex("zscore")), row.toString)
    }
    // flat hedge leg: zero x-variance -> null beta via the guarded divisor
    val flat = (Seq(1, 2, 3).flatMap { i =>
      Seq(("Y", ts(T0 + i * 3600), i * 10.0), ("Z", ts(T0 + i * 3600), 5.0))
    }).toDF("symbol", "bucket_ts", "close")
    val f = Studies.pairSpread(flat).collect()
    f.foreach(row => assert(row.isNullAt(row.fieldIndex("beta")), row.toString))
  }

  test("eventStudy: single volume shock, hand-computed AR/CAR path") {
    import spark.implicits._
    // volume 10 everywhere except 1000 at index 16 (1-based): z ~= 5.3 is
    // the only event; close steps 100 -> 110 at the event bucket, so
    // ret = 0.1 there and 0 elsewhere; mean_ret = 0.1/29
    val n = 30
    val candles = (0 until n).map { i =>
      val close = if (i >= 15) 110.0 else 100.0
      val vol = if (i == 15) 1000.0 else 10.0
      ("E", ts(T0 + i * 3600), close, vol)
    }.toDF("symbol", "bucket_ts", "close", "volume")
    val r = Studies.eventStudy(candles).orderBy(col("off")).collect()
    assert(r.length == 7, s"one event x 7 offsets: ${r.length}")
    assert(r.forall(_.getAs[java.sql.Timestamp]("event_ts") == ts(T0 + 15 * 3600)))
    val base = math.rint(-0.1 / 29.0 * 1e6) / 1e6        // ar off the event
    val spike = math.rint((0.1 - 0.1 / 29.0) * 1e6) / 1e6 // ar at the event
    val ars = r.map(_.getAs[Double]("ar"))
    assert(ars.zip(Seq(base, base, base, spike, base, base, base)).forall {
      case (a, e) => math.abs(a - e) < 1e-9
    }, ars.mkString(", "))
    val carAt0 = r(3).getAs[Double]("car")
    assert(math.abs(carAt0 - (3 * base + spike)) < 1e-9, s"car(0) = $carAt0")
  }

  // ---- parabolic SAR (wave 9) ----

  test("psar: hand-folded seed, ratchet, clamp, and stop-and-reverse") {
    import spark.implicits._
    val candles = Seq(
      ("P", ts(T0), 10.0, 9.0, 9.5),
      ("P", ts(T0 + 3600), 11.0, 10.0, 10.8),
      ("P", ts(T0 + 7200), 12.0, 11.0, 11.5),
      ("P", ts(T0 + 10800), 8.0, 7.0, 7.2),
      ("P", ts(T0 + 14400), 7.5, 6.5, 7.0)
    ).toDF("symbol", "bucket_ts", "high", "low", "close")
    val r = Studies.psar(candles).orderBy("bucket_ts").collect()
      .map(x => (x.getAs[Double]("psar"), x.getAs[Boolean]("trend_up"))).toSeq
    // bar2 seed: up, sar = min lows = 9, ep = 11
    // bar3: sn = 9 + .02*2 = 9.04 clamped to min(prior lows 10, 9) = 9;
    //       new high 12 -> ep 12, af .04
    // bar4: sn = 9 + .04*3 = 9.12 (clamp to 10 inactive); low 7 < 9.12 ->
    //       REVERSAL: sar jumps to ep (12), ep = 7
    // bar5: sn = 12 + .02*(7-12) = 11.9 clamped UP to max(prior highs) = 12;
    //       high 7.5 below -> stays down, new low extreme 6.5
    assert(r == Seq((9.0, true), (9.0, true), (12.0, false), (12.0, false)),
      r.toString)
  }

  test("psar: per-symbol state independence and downtrend seed") {
    import spark.implicits._
    val candles = (Seq(
      ("U", ts(T0), 10.0, 9.0, 9.5), ("U", ts(T0 + 3600), 11.0, 10.0, 10.8)) ++ Seq(
      ("D", ts(T0), 11.0, 10.0, 10.5), ("D", ts(T0 + 3600), 10.0, 9.0, 9.2)))
      .toDF("symbol", "bucket_ts", "high", "low", "close")
    val bySym = Studies.psar(candles).collect()
      .groupBy(_.getAs[String]("symbol"))
    assert(bySym("U").head.getAs[Boolean]("trend_up"))
    assert(bySym("U").head.getAs[Double]("psar") == 9.0)
    // close fell: seed DOWN, sar = max of the two highs
    assert(!bySym("D").head.getAs[Boolean]("trend_up"))
    assert(bySym("D").head.getAs[Double]("psar") == 11.0)
  }

  // ---- risk ratios / ulcer index / vortex (wave 7) ----

  test("riskRatios: hand-computed Sharpe/Sortino/Calmar on a +10%/-10%/+10% path") {
    import spark.implicits._
    val candles = Seq(100.0, 110.0, 99.0, 108.9).zipWithIndex.map {
      case (c, i) => ("R", ts(T0 + i * 3600), c)
    }.toDF("symbol", "bucket_ts", "close")
    val row = Studies.riskRatios(candles).head()
    assert(row.getAs[Long]("n") == 3L)
    // rets 0.1, -0.1, 0.1: mean 1/30, var = (0.03 - 0.01/3)/3, sd2 = 0.01
    val mean = 0.1 / 3
    val sharpe = mean / math.sqrt((0.03 - 0.1 * 0.1 / 3) / 3)
    val sortino = mean / math.sqrt(0.01 / 3)
    assert(math.abs(row.getAs[Double]("mean_ret") - mean) < 1e-5)
    assert(math.abs(row.getAs[Double]("sharpe") - sharpe) < 1e-5)
    assert(math.abs(row.getAs[Double]("sortino") - sortino) < 1e-5)
    // peak stays 110 after the dip: max_dd = 11/110 = 0.1
    assert(math.abs(row.getAs[Double]("max_dd") - 0.1) < 1e-9)
    assert(math.abs(row.getAs[Double]("calmar") - mean / 0.1) < 1e-5)
  }

  test("riskRatios: flat series null-guards all three ratios") {
    import spark.implicits._
    val candles = (0 to 2).map(i => ("F", ts(T0 + i * 3600), 100.0))
      .toDF("symbol", "bucket_ts", "close")
    val row = Studies.riskRatios(candles).head()
    assert(row.isNullAt(row.fieldIndex("sharpe")))   // zero variance
    assert(row.isNullAt(row.fieldIndex("sortino")))  // no downside
    assert(row.isNullAt(row.fieldIndex("calmar")))   // no drawdown
    assert(row.getAs[Double]("max_dd") == 0.0)
  }

  test("ulcerIndex: RMS drawdown on a 50% dip; flat series yields 0 / null Martin") {
    import spark.implicits._
    val candles = Seq(100.0, 50.0, 100.0).zipWithIndex.map {
      case (c, i) => ("U", ts(T0 + i * 3600), c)
    }.toDF("symbol", "bucket_ts", "close")
    val row = Studies.ulcerIndex(candles).head()
    // dd% = 0, 50, 0 -> UI = sqrt(2500/3); rets -0.5, +1.0 -> mean 0.25
    val ui = math.sqrt(2500.0 / 3)
    assert(math.abs(row.getAs[Double]("ulcer_index") - ui) < 1e-5)
    assert(math.abs(row.getAs[Double]("martin") - 0.25 / ui) < 1e-5)
    val flat = (0 to 2).map(i => ("F", ts(T0 + i * 3600), 10.0))
      .toDF("symbol", "bucket_ts", "close")
    val fr = Studies.ulcerIndex(flat).head()
    assert(fr.getAs[Double]("ulcer_index") == 0.0)
    assert(fr.isNullAt(fr.fieldIndex("martin")))
  }

  test("vortex: hand-computed 2-bar frame; short frames filtered") {
    import spark.implicits._
    val candles = Seq(
      ("V", ts(T0), 10.0, 8.0, 9.0),
      ("V", ts(T0 + 3600), 12.0, 9.0, 11.0),
      ("V", ts(T0 + 7200), 13.0, 11.0, 12.0)
    ).toDF("symbol", "bucket_ts", "high", "low", "close")
    val rows = Analytics.vortex(candles, n = 2).collect()
    // only the 3rd candle has a full 2-bar frame (1st has no prev)
    assert(rows.length == 1)
    // vmp: |12-8|+|13-9| = 8; vmn: |9-10|+|11-12| = 2; tr: 3+2 = 5
    assert(math.abs(rows.head.getAs[Double]("vi_plus") - 1.6) < 1e-9)
    assert(math.abs(rows.head.getAs[Double]("vi_minus") - 0.4) < 1e-9)
  }
}
