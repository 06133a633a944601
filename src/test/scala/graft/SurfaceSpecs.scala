package graft

import graft.core.GraftSession
import graft.ohlcv.CandleStore
import graft.sources.TradeSource
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SqlSurfaceSpec extends SparkSpec {
  test("star schema + trades reachable from spark.sql, incl. native cosine_sim") {
    Graft.registerViews(spark, Sf0001)
    val candles = spark.sql(
      """SELECT symbol, date_trunc('hour', ts) AS b, min(price) AS lo, max(price) AS hi
        |FROM trades GROUP BY 1, 2""".stripMargin)
    assert(candles.count() > 0)
    val cos = spark.sql(
      """SELECT a.vec_id, cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>),
        |                            CAST(a.embedding AS ARRAY<DOUBLE>)) AS self_cos
        |FROM embeddings a LIMIT 5""".stripMargin).collect()
    assert(cos.forall(r => math.abs(r.getAs[Double]("self_cos") - 1.0) < 1e-9))
  }

  test("GraftExtensions registers cosine_sim against a fresh extensions set") {
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions()(exts) // must not throw; function wired
  }

  test("cosine_sim is typed: float arrays widen, strings fail at analysis") {
    Graft.registerViews(spark, Sf0001)
    // raw array<float> embeddings auto-cast to array<double> — no explicit CAST
    val cos = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM embeddings LIMIT 5").collect()
    assert(cos.forall(r => math.abs(r.getAs[Double]("c") - 1.0) < 1e-6))
    // a string argument is an analysis-time error, not an executor crash
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim('oops', embedding) FROM embeddings").collect()
    }
    assert(err.getMessage.toLowerCase.contains("type"))
  }
}

class CandleSourceSpec extends SparkSpec {
  test("ccxt fetch_ohlcv JSON batches explode into candle rows") {
    import graft.sources.CandleSource
    val dir = Files.createTempDirectory("graft_ccxt").toString
    val line =
      s"""{"symbol":"XRP/USD","ohlcv":[[${(T0) * 1000}.0,0.5,0.6,0.45,0.55,1000.0],""" +
        s"""[${(T0 + 60) * 1000}.0,0.55,0.7,0.5,0.65,2000.0]]}"""
    Files.writeString(java.nio.file.Paths.get(dir, "batch.json"), line)
    val candles = CandleSource.ccxtJson(spark, dir)
    val rows = candles.orderBy("bucket_ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[java.sql.Timestamp]("bucket_ts") == ts(T0))
    assert(rows(0).getAs[Double]("open") == 0.5 && rows(0).getAs[Double]("volume") == 1000.0)
    // round-trips through the store like engine-computed candles
    val store = new CandleStore(Files.createTempDirectory("graft_ccxt_store").toString)
    store.write(candles, "bitfinex", graft.core.Timeframe.parse("1m"))
    assert(store.read(spark, Some("bitfinex"), Some("XRP/USD")).count() == 2)
  }
}

class TradeSourceSpec extends SparkSpec {
  test("csv and json trade batches read with the canonical schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_src").toString
    val df = Seq(("BTC", ts(T0 + 1), 100.5, 2.0), ("ETH", ts(T0 + 2), 10.25, 1.0))
      .toDF("symbol", "ts", "price", "qty")
    df.write.option("header", "true").mode("overwrite").csv(s"$dir/csv")
    df.write.mode("overwrite").json(s"$dir/json")

    val fromCsv = TradeSource.csv(spark, s"$dir/csv")
    val fromJson = TradeSource.json(spark, s"$dir/json")
    assert(fromCsv.schema == TradeSource.schema)
    assert(fromCsv.count() == 2 && fromJson.count() == 2)
    assert(fromJson.where(col("symbol") === "BTC").head().getAs[Double]("price") == 100.5)
  }

  test("a parquet tape with an extra column reads as the canonical four columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_src_pq").toString + "/tape"
    Seq(("BTC", ts(T0 + 1), 100.5, 2.0, "x"), ("ETH", ts(T0 + 2), 10.25, 1.0, "y"))
      .toDF("symbol", "ts", "price", "qty", "venue").write.parquet(dir)
    assert(jobsRun(TradeSource.parquet(spark, dir)) == 0, "schema inference ran a job")
    val tape = TradeSource.parquet(spark, dir)
    assert(tape.schema == TradeSource.schema)
    val inferred = spark.read.parquet(dir).select(TradeSource.schema.fieldNames.toIndexedSeq.map(col): _*)
    assert(tape.collect().map(_.toString).sorted.sameElements(
      inferred.collect().map(_.toString).sorted))
  }
}

/** The ASOF [LEFT] JOIN SQL syntax (round-5 verdict task #3): the exact
  * statements the DuckDB oracle runs must parse in a GraftExtensions
  * session, plan onto the native AsofJoinExec, and match the DataFrame
  * API result row-for-row.
  */
class AsofSqlSpec extends SparkSpec {
  import graft.operators.AsofJoin

  private def purchases = {
    val e = graft.core.Tables.events(spark, Sf0001)
    e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
  }
  private def clicks = {
    val e = graft.core.Tables.events(spark, Sf0001)
    e.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
  }
  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private val asofSql =
    """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      |       c.user_id AS click_user_id, c.ts AS click_ts, c.value AS click_value
      |FROM p %s c ON p.user_id = c.user_id AND %s""".stripMargin

  test("ASOF JOIN parses, plans onto AsofJoinExec, and matches joinNative") {
    Graft.registerViews(spark, Sf0001)
    val viaSql = spark.sql(asofSql.format("ASOF JOIN", "p.ts >= c.ts"))
    viaSql.count()
    assert(viaSql.queryExecution.executedPlan.toString.contains("AsofJoin"),
      "SQL ASOF JOIN must plan onto the native operator")
    val viaApi = AsofJoin.joinNative(purchases, clicks, "user_id", "ts", "ts", "click_")
    assert(rows(viaSql) == rows(viaApi))
  }

  test("ASOF LEFT JOIN preserves unmatched lefts; operand order may flip") {
    Graft.registerViews(spark, Sf0001)
    // c.ts <= p.ts is the same backward join written right-side-first
    val viaSql = spark.sql(asofSql.format("ASOF LEFT JOIN", "c.ts <= p.ts"))
    val viaApi = AsofJoin.joinNative(purchases, clicks, "user_id", "ts", "ts",
      "click_", leftOuter = true)
    assert(viaSql.count() == purchases.count())
    assert(rows(viaSql) == rows(viaApi))
  }

  test("forward direction from p.ts <= c.ts") {
    Graft.registerViews(spark, Sf0001)
    val viaSql = spark.sql(asofSql.format("ASOF JOIN", "p.ts <= c.ts"))
    val viaApi = AsofJoin.joinNative(purchases, clicks, "user_id", "ts", "ts",
      "click_", forward = true)
    assert(rows(viaSql) == rows(viaApi))
  }

  test("strict inequality and ambiguous statements are rejected loudly") {
    Graft.registerViews(spark, Sf0001)
    val strict = intercept[Exception] {
      spark.sql(asofSql.format("ASOF JOIN", "p.ts > c.ts")).count()
    }
    assert(strict.getMessage.contains("strict"))
    // an extra predicate breaks the one-eq + one-ineq shape => loud reject,
    // not a silent plain-join fallback
    val extra = intercept[Exception] {
      spark.sql(asofSql.format("ASOF JOIN",
        "p.ts >= c.ts AND p.value > 0")).count()
    }
    assert(extra.getMessage.contains("ASOF"))
  }

  test("multi-key ASOF JOIN: composite (user_id, day) tuple matches joinNativeKeys") {
    Graft.registerViews(spark, Sf0001)
    val viaSql = spark.sql(
      """WITH p AS (SELECT event_id, user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value
        |           FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts, p.value, c.ts AS click_ts, c.value AS click_value
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.day = c.day AND p.ts >= c.ts""".stripMargin)
    viaSql.count()
    assert(viaSql.queryExecution.executedPlan.toString.contains("AsofJoin"),
      "multi-key ASOF SQL must plan onto the native operator")
    val day = (c: org.apache.spark.sql.Column) => date_trunc("day", c).cast("date")
    val p = purchases.withColumn("day", day(col("ts")))
    val c = clicks.withColumn("day", day(col("ts")))
    val viaApi = AsofJoin.joinNativeKeys(p, c, Seq("user_id", "day"), "ts", "ts", "click_")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_ts"), col("click_value"))
    assert(rows(viaSql) == rows(viaApi))
    // semantic pin vs composed built-ins: max_by over the day-bounded
    // inequality join gives the same (event_id → click_ts) mapping
    val composed = p.as("a").join(c.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day") &&
          col("a.ts") >= col("b.ts"))
      .groupBy(col("a.event_id").as("event_id"))
      .agg(max(col("b.ts")).as("click_ts"))
    val expected = composed.collect().map(r => (r.getLong(0), r.getTimestamp(1))).toMap
    val gotPairs = viaApi.select(col("event_id"), col("click_ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toMap
    assert(gotPairs == expected)
  }

  test("ASOF NEAREST x multi-key composes: tuple keys + nearest in one statement") {
    Graft.registerViews(spark, Sf0001)
    // the scanner accepts 1..n equalities and NEAREST is statement-uniform
    // — their composition must plan onto AsofJoinExec with keys=[user_id,
    // day] and nearest sweep semantics
    val viaSql = spark.sql(
      """WITH p AS (SELECT event_id, user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value
        |           FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts, p.value, c.ts AS click_ts, c.value AS click_value
        |FROM p ASOF NEAREST JOIN c ON p.user_id = c.user_id AND p.day = c.day AND p.ts >= c.ts""".stripMargin)
    viaSql.count()
    assert(viaSql.queryExecution.executedPlan.toString.contains("AsofJoin"),
      "multi-key ASOF NEAREST SQL must plan onto the native operator")
    val day = (c: org.apache.spark.sql.Column) => date_trunc("day", c).cast("date")
    val p = purchases.withColumn("day", day(col("ts")))
    val c = clicks.withColumn("day", day(col("ts")))
    val viaApi = AsofJoin.joinNativeKeys(p, c, Seq("user_id", "day"), "ts", "ts",
        "click_", nearest = true)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_ts"), col("click_value"))
    assert(rows(viaSql) == rows(viaApi))
    // nearest on a matched-but-later-only day still matches (backward-only
    // would drop it), distinguishing the composition from plain multi-key
    assert(rows(viaSql) != rows(spark.sql(
      """WITH p AS (SELECT event_id, user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value
        |           FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts, p.value, c.ts AS click_ts, c.value AS click_value
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.day = c.day AND p.ts >= c.ts""".stripMargin)))
  }

  test("ASOF NEAREST JOIN plans onto the nearest sweep and matches joinNative") {
    Graft.registerViews(spark, Sf0001)
    val viaSql = spark.sql(asofSql.format("ASOF NEAREST JOIN", "p.ts >= c.ts"))
    viaSql.count()
    assert(viaSql.queryExecution.executedPlan.toString.contains("AsofJoin"),
      "SQL ASOF NEAREST JOIN must plan onto the native operator")
    val viaApi = AsofJoin.joinNative(purchases, clicks, "user_id", "ts", "ts",
      "click_", nearest = true)
    assert(rows(viaSql) == rows(viaApi))
    // the inequality only names the ts columns under NEAREST — both
    // directions produce the same nearest result
    val flipped = spark.sql(asofSql.format("ASOF NEAREST JOIN", "p.ts <= c.ts"))
    assert(rows(flipped) == rows(viaApi))
  }

  test("ASOF NEAREST LEFT JOIN composes: every left preserved, nearest semantics") {
    Graft.registerViews(spark, Sf0001)
    val viaSql = spark.sql(asofSql.format("ASOF NEAREST LEFT JOIN", "p.ts >= c.ts"))
    val viaApi = AsofJoin.joinNative(purchases, clicks, "user_id", "ts", "ts",
      "click_", leftOuter = true, nearest = true)
    assert(viaSql.count() == purchases.count())
    assert(rows(viaSql) == rows(viaApi))
  }

  test("mixing plain ASOF and ASOF NEAREST in one statement is rejected") {
    Graft.registerViews(spark, Sf0001)
    val err = intercept[Exception] {
      spark.sql(
        """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
          |     c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
          |     b AS (SELECT p.event_id, c.ts AS bts FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts)
          |SELECT p.event_id FROM p ASOF NEAREST JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin)
        .count()
    }
    assert(err.getMessage.contains("mix"))
  }

  test("SQL comments are skipped: 'ASOF JOIN' in a comment is not syntax") {
    Graft.registerViews(spark, Sf0001)
    // the ADVICE scenario: a comment mentions ASOF JOIN while the statement
    // contains a plain as-of-SHAPED inequality join — without comment
    // skipping the token count matches the join count and the plain join
    // would be SILENTLY converted, changing results
    val commented = spark.sql(
      """-- consider rewriting this as an ASOF JOIN some day
        |SELECT count(*) AS n FROM events a JOIN events b
        |ON a.user_id = b.user_id AND a.ts >= b.ts /* not an ASOF JOIN yet */
        |WHERE a.event_type = 'purchase' AND b.event_type = 'click'""".stripMargin)
    assert(!commented.queryExecution.executedPlan.toString.contains("AsofJoin"),
      "a commented-out ASOF keyword must not convert a plain join")
    // same statement shape, REAL token: still converts with a comment after
    val real = spark.sql(asofSql.format("ASOF JOIN -- as-of\n", "p.ts >= c.ts"))
    assert(real.queryExecution.executedPlan.toString.contains("AsofJoin"))
    // nested bracketed comment (Spark's lexer allows nesting) containing the
    // keyword — still data, and the statement still parses
    val nested = spark.sql(
      "SELECT 1 AS one /* outer /* ASOF JOIN inner */ still comment */")
    assert(nested.head().getInt(0) == 1)
  }

  test("backslash-escaped quotes inside literals don't derail the scanner") {
    Graft.registerViews(spark, Sf0001)
    // the literal contains an escaped quote followed by ASOF JOIN text; a
    // scanner that ended the literal at \' would see the token as syntax
    val s = spark.sql("SELECT 'it\\'s ASOF JOIN text' AS s").head().getString(0)
    assert(s == "it's ASOF JOIN text")
  }

  test("escapedStringLiterals conf: literal boundaries are conf-independent") {
    Graft.registerViews(spark, Sf0001)
    // Spark's lexer handles token-level backslash escapes UNCONDITIONALLY;
    // escapedStringLiterals only changes value UNESCAPING. Pin both halves
    // so the scanner's unconditional escape tracking provably matches the
    // lexer under either conf setting.
    def rawBackslashRejected(): Boolean =
      try { spark.sql("SELECT '\\' AS s").collect(); false }
      catch { case _: org.apache.spark.sql.catalyst.parser.ParseException => true }
    assert(rawBackslashRejected(), "lexer must reject '\\' with conf unset")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try {
      assert(rawBackslashRejected(), "lexer must reject '\\' with conf set too")
      // a \'-escaped literal containing ASOF JOIN text still scans as one
      // token (ASOF stays data), a real ASOF JOIN still plans natively,
      // and the VALUE keeps the backslash (the conf's actual effect)
      val df = spark.sql(
        """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
          |     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
          |SELECT 'it\'s ASOF JOIN text' AS raw, p.event_id, c.ts AS click_ts
          |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin)
      df.count()
      assert(df.queryExecution.executedPlan.toString.contains("AsofJoin"))
      assert(df.head().getString(0) == "it\\'s ASOF JOIN text",
        "conf must keep the backslash in the VALUE (no unescaping)")
    } finally spark.conf.unset("spark.sql.parser.escapedStringLiterals")
  }

  test("non-ASOF SQL is untouched, including string literals saying ASOF JOIN") {
    Graft.registerViews(spark, Sf0001)
    // inequality join WITHOUT the keyword stays a plain join
    val plain = spark.sql(
      """SELECT count(*) AS n FROM events a JOIN events b
        |ON a.user_id = b.user_id AND a.ts >= b.ts
        |WHERE a.event_type = 'purchase' AND b.event_type = 'click'""".stripMargin)
    assert(!plain.queryExecution.executedPlan.toString.contains("AsofJoin"))
    assert(plain.head().getLong(0) > 0)
    // a literal containing the keyword is data, not syntax
    val lit = spark.sql("SELECT 'ASOF JOIN c' AS s").head().getString(0)
    assert(lit == "ASOF JOIN c")
  }
}

/** No public face of the vector family takes a raw centroid matrix: each
  * takes an `Ivf.Quantizer`, so both the flat and the two-level model
  * serve every face, and a raw-matrix `*With` twin cannot come back.
  * `Ivf.retrain` is the one exception: it refines a given matrix into the
  * next one, a model-building step like `train`. The quantizer classes
  * themselves (`Ivf.Flat`, `Ivf.TwoLevelModel`) hold the matrices and are
  * not methods of these objects. Scala reflection, not Java's: a
  * `private[graft]` def is public in bytecode but not part of the surface.
  */
class CentroidSurfaceSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("no public Ivf, Retrieval or streaming method takes an Array[Array[Double]]") {
    import scala.reflect.runtime.{universe => ru}
    val mirror = ru.runtimeMirror(getClass.getClassLoader)
    val streamingDir = new java.io.File(
      getClass.getClassLoader.getResource("graft/streaming").toURI)
    // top-level objects compile to `Name$.class`; nested and anonymous
    // classes carry a second `$`
    val streaming = streamingDir.list().toSeq
      .filter(f => f.endsWith("$.class") && f.count(_ == '$') == 1)
      .map(f => "graft.streaming." + f.stripSuffix("$.class")).sorted
    assert(streaming.contains("graft.streaming.StreamingAnnServe") &&
      streaming.contains("graft.streaming.StreamingSemanticScreen"),
      s"the streaming objects were not found: $streaming")
    val matrix = ru.typeOf[Array[Array[Double]]]
    val allowed = Set("graft.ops.Ivf.retrain")
    val offenders = for {
      obj <- Seq("graft.ops.Ivf", "graft.ops.Retrieval") ++ streaming
      m <- mirror.staticModule(obj).moduleClass.asClass.toType.decls.toSeq
        .collect { case s: ru.MethodSymbol if s.isPublic && !s.isConstructor => s }
      if m.paramLists.flatten.exists(_.typeSignature =:= matrix)
      name = s"$obj.${m.name.decodedName}"
      if !allowed(name)
    } yield name
    assert(offenders.isEmpty,
      "public methods taking a raw centroid matrix (take an Ivf.Quantizer): " +
        offenders.distinct.mkString(", "))
  }
}
