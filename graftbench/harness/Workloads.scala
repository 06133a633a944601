package graftbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Timeframe}
import graft.ohlcv.{Analytics, CandleStore, Candles}

/** Timed operations of one run. Each op is one call into the program,
  * classed as a write (it persists) or a query (it reads or analyses).
  * An op that throws counts as failed and records no latency.
  */
final class Ops(tr: Tracer) {
  val writes = mutable.ArrayBuffer.empty[Double]
  val queries = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  /** Wall of every op that finished, in run order. */
  val walls = mutable.ArrayBuffer.empty[Double]
  /** Off during warm-up: ops run but count nowhere. */
  var recording = true

  def write[T](span: String)(body: => T): Option[T] = op(writes, span)(body)
  def query[T](span: String)(body: => T): Option[T] = op(queries, span)(body)

  private def op[T](into: mutable.ArrayBuffer[Double], span: String)(body: => T): Option[T] =
    if (!recording) try Some(body) catch {
      case NonFatal(e) => System.err.println(s"[graftbench] warm-up op $span failed: $e"); None
    } else timed(into, span)(body)

  private def timed[T](into: mutable.ArrayBuffer[Double], span: String)(body: => T): Option[T] = {
    attempted += 1
    val t = System.nanoTime()
    try {
      val r = tr.span(span)(body)
      val w = (System.nanoTime() - t) / 1e9
      into += w; walls += w
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[graftbench] op $span failed: $e")
        e.printStackTrace()
        None
    }
  }
}

/** A closed-loop workload: one client thread, passes run back to back. */
trait Workload {
  /** Generate (and, where the workload needs it, preload) the inputs
    * under `dir`. Runs several times; only the last set-up is used.
    */
  def setup(dir: String): Unit
  /** Once, after the last set-up and before the warm-up pass: start
    * what the passes feed.
    */
  def start(): Unit = ()
  /** One timed pass; returns the input items it processed. */
  def pass(i: Int): Long
  /** Untimed output checks after the loop: (what, passed). */
  def check(): Seq[(String, Boolean)]
  /** Bytes on disk per output row, from the last pass or the final state. */
  def bytesPerRow: Double
  /** Per-layer figures only the workload can give (end-state facts). */
  def extras: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workload {
  val Exchange = "graftx"
  val Cols = Seq("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(du).sum)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def files(f: File): Int =
    if (f.isDirectory) Option(f.listFiles).fold(0)(_.map(files).sum)
    else if (f.getName.endsWith(".parquet")) 1 else 0

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Rows of `a` missing from `b` plus rows of `b` missing from `a`. */
  def diff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  def verify(name: String)(body: => Boolean): (String, Boolean) =
    try name -> body catch {
      case NonFatal(e) =>
        System.err.println(s"[graftbench] check $name threw: $e"); name -> false
    }
}

import Workload._

/** The `graft.Backfill --sqlite` sequence over a seeded trade tape:
  * 1m candles from trades (cached), written; 5m/1h/1d by cascade, each
  * written; the 1h frame exported to per-series SQLite files. A pass
  * writes a fresh store; its read-back counts the candles readable.
  */
final class Backfill(spark: SparkSession, seed: Long, scale: Scale, tr: Tracer, ops: Ops)
    extends Workload {
  private val sc = scale.backfill
  private val frames = Seq("5m", "1h", "1d").map(Timeframe.parse)
  private val m1 = Timeframe.parse("1m")
  private val h1 = Timeframe.parse("1h")
  private var dir = ""
  private def tapeDir = s"$dir/tape"
  private var lastPass = ""
  private var lastBytesPerRow = 0.0
  private val trades: Long = Gen.tapeCounts(sc.symbols, sc.trades, sc.skew).map(_.toLong).sum

  def setup(d: String): Unit = {
    dir = d
    Gen.tape(spark, seed, sc.symbols, sc.trades, sc.days, sc.skew)
      .write.parquet(tapeDir)
  }

  /** The write sequence (each write one op), then the read-back of each
    * timeframe (one query op each).
    */
  def pass(i: Int): Long = {
    val out = s"$dir/pass$i"
    val store = new CandleStore(s"$out/store")
    val c1 = Candles.fromTrades(graft.sources.TradeSource.parquet(spark, tapeDir), m1)
    c1.cache()
    ops.write("ohlcv.write_1m")(store.write(c1, Exchange, m1))
    frames.foreach { tf =>
      ops.write("ohlcv.cascade")(store.write(Candles.resample(c1, tf), Exchange, tf))
    }
    ops.write("sinks.sqlite_export") {
      val files = graft.sinks.SqliteExport.export(Candles.resample(c1, h1), Exchange, h1,
        s"$out/sqlite")
      c1.unpersist()
      tr.count("sinks.sqlite_files", files.size)
    }
    val candles = (m1 +: frames).map { tf =>
      ops.query("ohlcv.read")(store.read(spark, timeframe = Some(tf.toString)).count())
    }
    if (tr.active) tr.count("sinks.sqlite_bytes", du(new File(s"$out/sqlite")))
    if (candles.forall(_.isDefined))
      lastBytesPerRow = du(new File(s"$out/store")).toDouble / candles.flatten.sum
    if (lastPass.nonEmpty) rm(new File(lastPass))
    lastPass = out
    trades
  }

  def bytesPerRow: Double = lastBytesPerRow

  def check(): Seq[(String, Boolean)] = {
    val store = new CandleStore(s"$lastPass/store")
    val tape = graft.sources.TradeSource.parquet(spark, tapeDir)
    val sample = Seq(0, sc.symbols / 2, sc.symbols - 1).distinct.map(Gen.symbol)
    Seq(verify("backfill: 1m trades per symbol equal the tape") {
      diff(store.read(spark, timeframe = Some("1m")).groupBy("symbol")
        .agg(sum("trades").as("n")),
        tape.groupBy("symbol").agg(count(lit(1)).as("n"))) == 0
    }) ++ frames.map { tf =>
      verify(s"backfill: $tf equals fromTrades on sampled symbols") {
        val want = Candles.fromTrades(tape.where(col("symbol").isin(sample: _*)), tf)
        val got = store.read(spark, timeframe = Some(tf.toString))
          .where(col("symbol").isin(sample: _*))
        diff(got.select(Cols.map(col): _*), want.select(Cols.map(col): _*)) == 0 &&
          want.count() > 0
      }
    } :+ verify("backfill: sqlite row counts equal 1h candle counts") {
      val counts = store.read(spark, timeframe = Some("1h")).groupBy("symbol").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      counts.size == sc.symbols && counts.forall { case (sym, n) =>
        val path = new File(s"$lastPass/sqlite",
          graft.sinks.SqliteExport.dbPath(Exchange, sym, "1h")).getPath
        graft.sources.SqliteSource.readTable(spark, path, "candles").count() == n
      }
    }
  }
}

/** Live tail: history preloaded as one mergeable generation, then
  * micro-batches through StreamingIngest.runMergeable (late trades
  * included), each followed by a fixed read mix on readMerged.
  */
final class LiveTail(spark: SparkSession, seed: Long, scale: Scale, tr: Tracer, ops: Ops)
    extends Workload {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._
  private val sc = scale.tail
  private val m1 = Timeframe.parse("1m")
  /** Stream batch ids count up from 0; the preload takes one far above. */
  val PreloadBatch: Long = 1L << 40
  private var dir = ""
  private var tail: Gen.Tail = _
  private var store: CandleStore = _
  private val sent = mutable.ArrayBuffer.empty[Gen.Trade]
  private var stream: MemoryStream[(String, java.sql.Timestamp, Double, Double)] = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private val hot = Gen.symbol(0)
  private val cold = Gen.symbol(sc.symbols - 1)
  private var endBytesPerRow = 0.0
  private var endState = Map.empty[String, Double]

  private def frame(ts: Seq[Gen.Trade]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(ts.map(_.row).asJava, Gen.tradeSchema)
  }

  def setup(d: String): Unit = {
    dir = d
    tail = new Gen.Tail(seed, sc.symbols, sc.history, sc.days, sc.skew, sc.batch, sc.late)
    store = new CandleStore(s"$dir/store")
    store.appendBatch(Candles.fromTradesMergeable(frame(tail.historyRows), m1),
      Exchange, m1, PreloadBatch)
  }

  /** Starts the stream and feeds it one untimed batch: a query's first
    * micro-batch pays one-off costs (checkpoint layout, first plan).
    */
  override def start(): Unit = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    stream = MemoryStream[(String, java.sql.Timestamp, Double, Double)]
    query = graft.streaming.StreamingIngest.runMergeable(
      stream.toDF().toDF("symbol", "ts", "price", "qty"), m1, store, Exchange,
      Some(s"$dir/checkpoint"))
    ingest(tail.nextBatch())
  }

  private def ingest(batch: Seq[Gen.Trade]): Unit = {
    sent ++= batch
    stream.addData(batch.map(t => (t.symbol, Gen.ts(t.tsMicros), t.price, t.qty)))
    query.processAllAvailable()
  }

  private def lastDay = col("bucket_ts") >= lit(Gen.ts(tail.lastDayStartMs * 1000L))
  private def merged(sym: Option[String]) =
    store.readMerged(spark, Some(Exchange), sym, Some("1m"))

  def pass(i: Int): Long = {
    val batch = tail.nextBatch()
    ops.write("streaming.ingest")(ingest(batch))
    Seq(hot, cold).foreach { s =>
      ops.query("ohlcv.read_merged")(merged(Some(s)).agg(max("bucket_ts")).collect())
    }
    ops.query("ohlcv.analytics")(noop(Analytics.rsi(merged(Some(hot)).where(lastDay), 14)))
    ops.query("operators.asof") {
      val n = graft.operators.AsofJoin.joinNative(frame(batch), merged(None).where(lastDay),
        "symbol", "ts", "bucket_ts").collect().length
      tr.count("operators.asof_rows_out", n)
    }
    batch.size
  }

  def bytesPerRow: Double = endBytesPerRow
  override def extras: Map[String, Double] = endState

  def check(): Seq[(String, Boolean)] = {
    query.stop()
    val all = merged(None).select(Cols.map(col): _*)
    val rows = all.count()
    val partials = store.read(spark).count()
    endBytesPerRow = du(new File(store.root)).toDouble / rows
    endState = Map(
      "ohlcv.store_files" -> files(new File(store.root)).toDouble,
      "ohlcv.fold_ratio" -> partials.toDouble / rows)
    Seq(verify("live_tail: readMerged equals fromTrades over history and every batch") {
      val want = Candles.fromTrades(frame(tail.historyRows ++ sent), m1)
      diff(all, want.select(Cols.map(col): _*)) == 0
    })
  }

  override def close(): Unit = if (query != null && query.isActive) query.stop()
}

/** Corpus pipeline. Two queries, profiles of the documents through
  * collect, exact and by sketch. Four writes, each persisting parquet:
  * curate + PII scrub (Pipeline.run), MinHash corpus dedup, IVF semantic
  * dedup and longest repeat.
  */
final class Curation(spark: SparkSession, seed: Long, scale: Scale, tr: Tracer, ops: Ops,
                     digestFile: Option[File]) extends Workload {
  private var dir = ""
  private var exactDups = 0
  private val digests = mutable.ArrayBuffer.empty[String]
  private var facts = Map.empty[String, Long]
  private var lastBytesPerRow = 0.0
  private def docsPath = s"$dir/documents.parquet"
  private def embPath = s"$dir/embeddings.parquet"

  def setup(d: String): Unit = {
    dir = d
    val (docs, emb, exact) = Gen.corpus(spark, seed, scale.corpus)
    docs.write.parquet(docsPath)
    emb.write.parquet(embPath)
    exactDups = exact
  }

  /** The timed ops of a pass; returns the profile rows. */
  private def run(out: String): Seq[Row] = Materialize.inScope { scope =>
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(embPath)
    // exact and by sketch: the trade-off stays visible on query_s
    val profile = Seq(
      ops.query("ops.profile")(graft.ops.Profile.profile(docs).collect()),
      ops.query("ops.profile")(
        graft.ops.Profile.profile(docs, exactDistinct = false).collect()))
    ops.write("ops.pipeline")(graft.Pipeline.run(spark, docsPath, s"$out/pipeline"))
    ops.write("ops.corpus_dedup")(
      graft.ops.Dedup.corpusDedup(docs).write.parquet(s"$out/corpus_dedup"))
    ops.write("ops.semantic_dedup")(
      graft.ops.Ivf.semanticDedup(emb).write.parquet(s"$out/semantic_dedup"))
    ops.write("ops.longest_repeat")(
      graft.ops.Dedup.longestRepeat(docs).write.parquet(s"$out/longest_repeat"))
    scope.release(spark)
    profile.flatMap(_.toSeq.flatten)
  }

  private def rows(path: String, key: String): Array[Row] =
    try spark.read.parquet(path).orderBy(key).collect()
    catch { case NonFatal(_) => Array.empty[Row] }

  def pass(i: Int): Long = {
    val out = s"$dir/pass$i"
    val profile = run(out)
    // output digest and facts, untimed
    val outputs = Seq("pipeline/decisions" -> "doc_id", "corpus_dedup" -> "doc_id",
      "semantic_dedup" -> "vec_id", "longest_repeat" -> "doc_id")
      .map { case (p, k) => p -> rows(s"$out/$p", k) }.toMap
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (profile +: outputs.toSeq.sortBy(_._1).map(_._2.toSeq))
      .foreach(rs => md.update(rs.map(_.mkString("|")).mkString("\n").getBytes("UTF-8")))
    digests += md.digest().map("%02x".format(_)).mkString
    def n(p: String, flag: String, v: Boolean) =
      outputs(p).count(_.getAs[Boolean](flag) == v).toLong
    facts = Map(
      "docs" -> outputs("pipeline/decisions").length.toLong,
      "kept" -> n("pipeline/decisions", "kept", v = true),
      "dedup_dropped" -> n("corpus_dedup", "keep", v = false),
      "semantic_dropped" -> n("semantic_dedup", "keep", v = false),
      "max_repeat" -> outputs("longest_repeat").map(_.getAs[Number]("max_repeat").longValue)
        .maxOption.getOrElse(0L))
    tr.count("ops.dedup_pairs", facts("dedup_dropped"))
    tr.count("ops.docs_kept", facts("kept"))
    lastBytesPerRow = du(new File(s"$out/pipeline")).toDouble / math.max(1L, facts("docs"))
    rm(new File(out))
    scale.corpus.docs.toLong
  }

  def bytesPerRow: Double = lastBytesPerRow

  def check(): Seq[(String, Boolean)] = {
    val digest = digests.headOption.getOrElse("")
    val prior = digestFile.filter(_.exists).map(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim)
    digestFile.filter(f => !f.exists).foreach { f =>
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, digest.getBytes("UTF-8"))
    }
    Seq(
      verify("curation: output digest identical across passes")(
        digests.nonEmpty && digests.forall(_ == digest)),
      verify("curation: output digest identical to earlier runs of this seed")(
        prior.forall(_ == digest)),
      verify("curation: pipeline keeps some but not all documents")(
        facts("kept") > 0 && facts("kept") < facts("docs")),
      verify("curation: corpus dedup drops at least the planted exact duplicates")(
        facts("dedup_dropped") >= exactDups),
      verify("curation: semantic dedup drops near-duplicate vectors")(
        facts("semantic_dropped") > 0),
      verify("curation: longest repeat finds the planted duplicates")(
        facts("max_repeat") >= 10))
  }
}
