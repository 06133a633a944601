package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same inputs; the
  * program under test only ever sees their output.
  *
  * Trade timestamps are whole milliseconds times 1000 plus a tag in the
  * microseconds: 0 for in-order trades, 1 + batch for late ones. Within
  * a symbol no two trades share a timestamp, so open/close picks are never
  * ties and the checks can demand exact equality.
  */
object Gen {
  final case class Trade(symbol: String, tsMicros: Long, price: Double, qty: Double) {
    def row: Row = Row(symbol, ts(tsMicros), price, qty)
  }

  val tradeSchema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("ts", TimestampType),
    StructField("price", DoubleType), StructField("qty", DoubleType)))

  /** 2024-01-01T00:00:00Z */
  val T0Ms = 1704067200000L

  def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  def symbol(i: Int): String = f"S$i%03d/USD"

  /** Zipf(s) shares over `n` symbols, rank 0 the hottest. */
  def zipf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val t = w.sum
    w.map(_ / t)
  }

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1)

  private def round2(x: Double): Double = math.rint(x * 100) / 100

  /** One symbol's history: strictly increasing ms timestamps spread over
    * `days` from T0, a multiplicative random-walk price, qty in cents.
    */
  def series(seed: Long, sym: Int, n: Int, days: Int): Array[Trade] = {
    val r = rng(seed, sym)
    val meanGap = days * 86400000.0 / n
    var ms = T0Ms + r.nextLong(1000L)
    var price = 10.0 + r.nextInt(990)
    Array.fill(n) {
      ms += 1 + (-math.log(1 - r.nextDouble()) * (meanGap - 1)).toLong
      price = math.max(0.01, price * math.exp(0.002 * r.nextGaussian()))
      Trade(symbol(sym), ms * 1000L, round2(price), (1 + r.nextInt(500)) / 100.0)
    }
  }

  /** Trade tape: `trades` over `symbols` with Zipf(`skew`) counts across
    * `days`. Generated per symbol on the executors, no shuffle.
    */
  def tape(spark: SparkSession, seed: Long, symbols: Int, trades: Long,
           days: Int, skew: Double): DataFrame = {
    val counts = tapeCounts(symbols, trades, skew)
    val rdd = spark.sparkContext
      .parallelize(0 until symbols, math.min(symbols, spark.sparkContext.defaultParallelism * 2))
      .flatMap(i => series(seed, i, counts(i), days).iterator.map(_.row))
    spark.createDataFrame(rdd, tradeSchema)
  }

  /** Trades per symbol on the tape: Zipf shares, rounded, at least one. */
  def tapeCounts(symbols: Int, trades: Long, skew: Double): Array[Int] =
    zipf(symbols, skew).map(s => math.max(1L, math.round(trades * s)).toInt)

  /** The live tail: a history, then micro-batches of fresh trades that
    * continue each symbol's clock, with a fixed share of late trades
    * landing in buckets the history already stored.
    */
  final class Tail(seed: Long, symbols: Int, historyTrades: Int, days: Int,
                   skew: Double, batchSize: Int, lateShare: Double) {
    private val shares = zipf(symbols, skew)
    private val cum = shares.scanLeft(0.0)(_ + _).tail
    val history: Array[Array[Trade]] = Array.tabulate(symbols) { i =>
      series(seed, i, math.max(1, math.round(historyTrades * shares(i)).toInt), days)
    }
    private val clock = history.map(_.last.tsMicros / 1000L)
    private val price = history.map(_.last.price)
    private val r = rng(seed, 1L << 20)
    private var batches = 0

    def historyRows: Seq[Trade] = history.toSeq.flatten
    /** First ms of the last stored day, for the hot symbol's reads. */
    def lastDayStartMs: Long = clock.max - 86400000L

    private def pick(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cum, u)
      math.min(symbols - 1, if (i >= 0) i else -i - 1)
    }

    def nextBatch(): Seq[Trade] = {
      val tag = 1 + batches
      require(tag < 1000, "late-trade tags are exhausted after 998 batches")
      batches += 1
      val late = math.round(batchSize * lateShare).toInt
      val out = mutable.ArrayBuffer.empty[Trade]
      (0 until batchSize - late).foreach { _ =>
        val s = pick()
        clock(s) += 1 + r.nextInt(200)
        price(s) = math.max(0.01, round2(price(s) * math.exp(0.002 * r.nextGaussian())))
        out += Trade(symbol(s), clock(s) * 1000L, price(s), (1 + r.nextInt(500)) / 100.0)
      }
      val used = mutable.Set.empty[(Int, Long)]
      while (out.size < batchSize) {
        val s = pick()
        val h = history(s)(r.nextInt(history(s).length))
        if (used.add((s, h.tsMicros)))
          out += Trade(h.symbol, h.tsMicros + tag,
            round2(h.price * (0.98 + 0.04 * r.nextDouble())), (1 + r.nextInt(500)) / 100.0)
      }
      out.toSeq
    }
  }

  private val Vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg " +
    "key query a scan batch of and to in is for on with as by").split(" ")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  final case class CorpusSize(docs: Int, vectors: Int, dim: Int)

  /** Documents with planted exact duplicates (5%), near duplicates (5%,
    * one word changed) and PII (5% carry an email or a digit run), plus
    * clustered embeddings with 5% near-duplicate vectors. Returns the
    * frames and the number of planted exact-duplicate documents.
    */
  def corpus(spark: SparkSession, seed: Long, size: CorpusSize): (DataFrame, DataFrame, Int) = {
    val r = rng(seed, 1L << 21)
    val texts = mutable.ArrayBuffer.empty[String]
    var exact = 0
    (0 until size.docs).foreach { i =>
      val u = r.nextDouble()
      texts += (if (i > 10 && u < 0.05) { exact += 1; texts(r.nextInt(i)) }
        else if (i > 10 && u < 0.10) {
          val ws = texts(r.nextInt(i)).split(" ")
          ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.length))
          ws.mkString(" ")
        } else {
          val ws = Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
          if (u < 0.125) ws(r.nextInt(ws.length)) = s"user${r.nextInt(10000)}@example.com"
          else if (u < 0.15) ws(r.nextInt(ws.length)) = f"555 ${r.nextInt(10000)}%04d ${r.nextInt(10000)}%04d"
          ws.mkString(" ")
        })
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}", t.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))

    val centers = Array.fill(10)(unit(Array.fill(size.dim)(r.nextGaussian())))
    val vecs = mutable.ArrayBuffer.empty[(Array[Double], Int)]
    (0 until size.vectors).foreach { i =>
      vecs += (if (i > 10 && r.nextDouble() < 0.05) {
        val (v, l) = vecs(r.nextInt(i))
        (unit(v.map(_ + 1e-4 * r.nextGaussian())), l)
      } else {
        val l = r.nextInt(centers.length)
        (unit(centers(l).map(_ + 0.6 * r.nextGaussian())), l)
      })
    }
    val emb = vecs.zipWithIndex.map { case ((v, l), i) =>
      Row(i.toLong, v.map(_.toFloat).toSeq, l)
    }
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    import scala.jdk.CollectionConverters._
    (spark.createDataFrame(docs.asJava, docSchema),
      spark.createDataFrame(emb.asJava, embSchema), exact)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}
