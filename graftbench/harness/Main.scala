package graftbench

import java.io.File
import scala.collection.mutable

final case class TapeSize(symbols: Int, trades: Long, days: Int, skew: Double)
final case class TailSize(symbols: Int, history: Int, days: Int, skew: Double,
                          batch: Int, late: Double)
final case class Scale(backfill: TapeSize, tail: TailSize, corpus: Gen.CorpusSize)

object Scale {
  /** Sized so that a run, set-up and checks included, takes about 40 s on
    * 4 cores: a campaign of 70 runs must fit in under an hour (NOTES.md).
    */
  val full = Scale(
    TapeSize(symbols = 16, trades = 80000L, days = 14, skew = 1.1),
    TailSize(symbols = 12, history = 60000, days = 2, skew = 1.1, batch = 2000, late = 0.1),
    Gen.CorpusSize(docs = 600, vectors = 600, dim = 64))
  /** For the smoke test: every code path, seconds per run. */
  val tiny = Scale(
    TapeSize(symbols = 4, trades = 4000L, days = 3, skew = 1.1),
    TailSize(symbols = 3, history = 1500, days = 1, skew = 1.1, batch = 200, late = 0.1),
    Gen.CorpusSize(docs = 200, vectors = 200, dim = 16))
}

/** Runs one workload and writes the result object to `--out`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             --out FILE [--scale full|tiny] [--digests DIR] [--spans FILE]
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val scaleName = opt.getOrElse("scale", "full")
    val scale = if (scaleName == "tiny") Scale.tiny else Scale.full
    val cores = Runtime.getRuntime.availableProcessors()

    val t0Ms = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val s0 = System.nanoTime()
    val spark = graft.core.GraftSession.builder(s"local[$cores]")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val startS = (System.currentTimeMillis() - t0Ms) / 1e3 // JVM start → session up

    val tr = new Tracer(spark, trace)
    val ops = new Ops(tr)
    val wl: Workload = workload match {
      case "backfill" => new Backfill(spark, seed, scale, tr, ops)
      case "live_tail" => new LiveTail(spark, seed, scale, tr, ops)
      case "curation" => new Curation(spark, seed, scale, tr, ops,
        opt.get("digests").map(d => new File(d, s"curation-$scaleName-$seed.txt")))
      case other => sys.error(s"unknown workload $other")
    }

    try {
      // set-up: several fresh generations, median reported; last one kept
      val setups = (0 until SetupReps).map { r =>
        val dir = new File(work, s"setup$r")
        val t = System.nanoTime()
        wl.setup(dir.getPath)
        val s = (System.nanoTime() - t) / 1e9
        if (r > 0) Workload.rm(new File(work, s"setup${r - 1}"))
        s
      }
      // warm-up: one untimed pass over the real inputs, so class loading,
      // JIT and codegen are paid before anything is timed
      val w0 = System.nanoTime()
      wl.start()
      ops.recording = false
      wl.pass(-1)
      ops.recording = true
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = startS + median(setups) + warmS

      // the timed closed loop: a pass starts while it is expected to end
      // within `seconds`. A traced run alternates untraced and traced
      // passes, at least untraced-traced-untraced, so a store that grows
      // or a JIT still warming biases neither side of trace.overhead_frac.
      final case class Pass(wall: Double, writes: Double, queries: Double, items: Long,
                            traced: Boolean)
      val passes = mutable.ArrayBuffer.empty[Pass]
      val minPasses = if (trace) 3 else 1
      val loop0 = System.nanoTime()
      def elapsed = (System.nanoTime() - loop0) / 1e9
      while (passes.size < minPasses || elapsed + elapsed / passes.size <= seconds) {
        val traced = trace && passes.size % 2 == 1
        val (w0, q0, a0) = (ops.writes.size, ops.queries.size, ops.walls.size)
        val items = tr.tracing(traced)(wl.pass(passes.size))
        passes += Pass(ops.walls.drop(a0).sum, ops.writes.drop(w0).sum,
          ops.queries.drop(q0).sum, items, traced)
      }
      val checks = wl.check()
      checks.foreach { case (what, ok) =>
        System.err.println(s"[graftbench] check ${if (ok) "ok  " else "FAIL"} $what")
      }
      val failed = math.min(ops.attempted, ops.failed + checks.count(!_._2))
      val rssMb = peakRssMb()

      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", setupS, "s"),
          ("peak_rss_mb", rssMb, "MB"),
          ("items_per_s", median(passes.filter(_.wall > 0).map(p => p.items / p.wall).toSeq), "1/s"),
          ("write_s", median(passes.map(_.writes).toSeq), "s"),
          ("query_s", median(passes.map(_.queries).toSeq), "s"),
          ("bytes_per_row", wl.bytesPerRow, "B"))
        else {
          val traced = passes.filter(_.traced).map(_.wall)
          val plain = passes.filterNot(_.traced).map(_.wall)
          Layers.metrics(tr, sessionS, wl.extras) :+
            (("trace.overhead_frac", mean(traced.toSeq) / mean(plain.toSeq) - 1, "ratio"))
        }

      opt.get("spans").filter(_ => trace).foreach { f =>
        val lines = tr.spanLines(s"$workload-$seed")
        java.nio.file.Files.write(new File(f).toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      }
      val body = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
      }.mkString(", ")
      val correct = failed == 0 && checks.forall(_._2)
      val line = s"""{"correct": $correct, "attempted": ${ops.attempted}, "failed": $failed, "metrics": {$body}}"""
      java.nio.file.Files.write(new File(opt("out")).toPath, (line + "\n").getBytes("UTF-8"))
      System.err.println(f"[graftbench] $workload seed=$seed passes=${passes.size} " +
        f"ops=${ops.attempted} failed=$failed setup=$setupS%.3f s (session $startS%.3f, " +
        f"gen ${setups.map(s => f"$s%.3f").mkString("/")}, warm-up $warmS%.3f) " +
        f"op walls ${ops.walls.map(w => f"$w%.3f").mkString(" ")}")
    } finally {
      wl.close()
      tr.stop()
      spark.stop()
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0) finally src.close()
  }
}
