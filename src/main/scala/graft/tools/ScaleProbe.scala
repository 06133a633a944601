package graft.tools

import graft.core.{GraftSession, Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth probe (not part of the bench contract): amplifies the
  * corpus k× in memory (`AmplifyCorpus`' growth model) and times the
  * heavy operators with their shuffle and spill bytes, so BENCH_NOTES can
  * report measured growth curves instead of claims. It runs on the one
  * session config (`GraftSession.local`, `SPARK_GRAFT_CPUS` cores).
  *
  * Run: `runMain graft.tools.ScaleProbe <sfDir> [mode [k ...]]`, modes:
  *  - `curve [k ...]` (default; k = 1 8 27): the dedup, text and ANN
  *    operators at each amplification;
  *  - `recall`: recall-vs-cost curves of the approximate ANN paths;
  *  - `r15knnrecall [k]` (default 27): what the kNN-graph candidate cap
  *    costs in neighbours and bytes;
  *  - `r16layout`: whether `Dedup.clusters`' sealed layout widens with edge
  *    bytes.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <sfDir> [curve|recall|r15knnrecall|r16layout] [k ...]")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    Diagnostics.warm(spark)
    val probe = new ScaleProbe(spark, args(0))
    val ks = args.drop(2).map(_.toInt).toSeq
    try args.lift(1).getOrElse("curve") match {
      case "curve"        => probe.curve(if (ks.isEmpty) Seq(1, 8, 27) else ks)
      case "recall"       => probe.recall()
      case "r15knnrecall" => probe.knnRecall(ks.headOption.getOrElse(27))
      case "r16layout"    => probe.layout()
      case other => System.err.println(s"unknown ScaleProbe mode: $other")
    } finally {
      Materialize.releaseAll(spark, blocking = true)
      spark.stop()
    }
  }
}

private final class ScaleProbe(spark: SparkSession, dir: String) {

  /** Stage-metric tap: accumulates shuffle read/write bytes and spill
    * across every completed stage, so a timed region's byte deltas ride
    * next to its wall-clock (a 100 TB claim extrapolated from wall-clock
    * alone hides whether the plan is linear).
    */
  private object tap extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    private val read = new AtomicLong
    private val write = new AtomicLong
    private val spill = new AtomicLong
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    def snap: (Long, Long, Long) = (read.get, write.get, spill.get)
  }
  spark.sparkContext.addSparkListener(tap)

  /** Times `f` and prints its wall, shuffle and spill bytes, and its
    * result (a row count, a recall figure, ...).
    */
  private def time[T](label: String)(f: => T): T = {
    def mb(b: Long): String = f"${b / 1e6}%10.1f MB"
    Diagnostics.drainListenerBus(spark)
    val (r0, w0, s0) = tap.snap
    val t0 = System.nanoTime()
    val out = f
    val secs = (System.nanoTime() - t0) / 1e9
    Diagnostics.drainListenerBus(spark)
    val (r1, w1, s1) = tap.snap
    val shown = out match {
      case _: org.apache.spark.sql.Dataset[_] => ""
      case v => s"  -> $v"
    }
    println(f"[scale] $label%-44s $secs%8.2f s  shufR ${mb(r1 - r0)}  " +
      f"shufW ${mb(w1 - w0)}  spill ${mb(s1 - s0)}$shown")
    out
  }

  private def table(name: String): DataFrame = Tables.table(spark, dir, name)

  /** The growth curve (ROADMAP item 2): dedup, text and ANN operators
    * over k× corpora. Doc copies are word-salted, so the dup rate stays
    * constant and only the corpus size grows.
    */
  def curve(ks: Seq[Int]): Unit = ks.foreach { k =>
    val docs = AmplifyCorpus.documents(table("documents"), k).cache()
    val nd = docs.count()
    time(s"dedup_minhash x$k ($nd docs)") {
      graft.ops.Dedup.minhashLsh(docs).count()
    }
    time(s"corpus_dedup x$k") {
      graft.ops.Dedup.corpusDedup(docs).count()
    }
    time(s"contamination_check x$k") {
      graft.ops.TextAnalysis.contaminationCheck(docs).count()
    }
    time(s"dedup_substring x$k") {
      graft.ops.Dedup.substringDedup(docs).count()
    }
    time(s"dedup_incremental x$k") {
      graft.ops.Dedup.incrementalDedup(
        docs.where(col("source") === "src0"),
        docs.where(col("source") =!= "src0")).count()
    }
    time(s"tfidf_topterms x$k") {
      graft.ops.TextAnalysis.tfidfTopTerms(docs).count()
    }
    docs.unpersist()
    Materialize.releaseAll(spark, blocking = true)
    val emb = AmplifyCorpus.embeddings(table("embeddings"), k).cache()
    val ne = emb.count()
    val q = emb.where(col("vec_id") < 10)
    time(s"ann_ivf x$k ($ne vecs)") {
      graft.ops.Ivf.searchTopK(emb, graft.ops.Ivf.Flat(graft.ops.Ivf.train(emb, 16, iters = 0)),
        q, 5).count()
    }
    time(s"ann_lsh_multi x$k") {
      graft.ops.Similarity.lshTopKMulti(spark, emb, q, 5).count()
    }
    emb.unpersist()
    Materialize.releaseAll(spark, blocking = true)
  }

  /** Recall-vs-cost curves for the approximate ANN paths (ROADMAP item
    * 8): recall@k against the exact brute-force top-k as the cost knob
    * turns (IVF: cells probed; multi-LSH: table count). Candidate sets
    * are supersets as the knob grows (probes are top-nprobe cells; tables
    * 0..T-1 ⊆ 0..T), so recall is monotone by construction (spec-pinned);
    * these curves put numbers on the tradeoff.
    */
  def recall(): Unit = {
    import graft.ops.{Ivf, Similarity}
    val k = 10
    val emb = table("embeddings").cache()
    val n = emb.count()
    val q = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(spark, emb, q, k).cache()
    exact.count()
    def probe(label: String)(f: => DataFrame): Unit =
      time(s"$label ($n vecs)")(f"recall@$k=${Similarity.recallAtK(exact, f)}%.3f")
    val model = Ivf.Flat(Ivf.train(emb, 16, 2))
    Seq(1, 2, 4, 8, 16).foreach { p =>
      probe(s"ivf nprobe=$p/16")(Ivf.searchTopK(emb, model, q, k, p))
    }
    // compressed-domain paths: plain PQ vs the residual IVF-PQ index at
    // the same code bytes (m=4 x 16 entries), pruning knob swept
    probe("pq m=4,k=16")(Ivf.pqSearch(emb, q, k))
    val m1 = Ivf.Flat(Ivf.train(emb, 16, 1))
    val enc = Ivf.ivfPqReconFrame(emb, m1, 4, 16).cache()
    enc.count()
    Seq(4, 8, 16).foreach { p =>
      probe(s"ivfpq nprobe=$p/16")(Ivf.ivfPqSearch(enc, m1, q, k, p))
    }
    // exact re-rank of the ADC top-4k: recall dominates plain ADC at
    // each nprobe, but is only NEAR-FLAT in nprobe, not strictly
    // monotone — the k' cut is ADC-ordered, so candidate sets are not
    // supersets as nprobe grows (measured ±0.01 dips; see
    // ivfPqSearchRerank's scaladoc and SURVEY §34s)
    Seq(4, 8, 16).foreach { p =>
      probe(s"ivfpq_rerank nprobe=$p/16")(
        Ivf.ivfPqSearchRerank(enc, emb, m1, q, k, p))
    }
    enc.unpersist()
    Seq(1, 2, 4, 8).foreach { t =>
      probe(s"lsh_multi tables=$t")(
        Similarity.lshTopKMulti(spark, emb, q, k, numPlanes = 6, numTables = t))
    }
    exact.unpersist(); emb.unpersist()
  }

  /** What the kNN-graph candidate cap costs (ROADMAP item 8), at a scale
    * where the UNCAPPED kernel still runs: (a) edge recall, the fraction
    * of uncapped top-k edges the capped graph keeps; (b) score recall,
    * the mean per-vector cosine gap between capped and uncapped neighbour
    * lists (in a near-identical dup family the neighbour ids are
    * interchangeable — the curation question is whether the kept
    * neighbours are as close); (c) the byte curve of each kernel.
    */
  def knnRecall(k: Int): Unit = {
    import graft.ops.Ivf
    val emb = AmplifyCorpus.embeddings(table("embeddings"), k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ne = emb.count()
    val (k1, k2) = Ivf.twoLevelSizing(ne, targetCell = 250)
    val tl = Ivf.trainTwoLevel(emb, k1, k2, iters = 0)
    // the quantizer's own cell frame: cell sizes, the uncapped baseline
    // and the worst-gap join read it (the faces below route the same way)
    val cells = tl.cells(emb)
    cells.count()
    val over = cells.groupBy(col("cid")).count()
      .where(col("count") > Ivf.KnnMaxCand).count()
    println(s"[scale] x$k: $ne vecs, ${k1}x$k2 cells, $over cells over the " +
      s"${Ivf.KnnMaxCand} cap")
    def graph(label: String)(f: => DataFrame): DataFrame =
      time(label) { val g = Materialize.once(f); g.count(); g }
    val capped = graph(s"knn_graph CAPPED(${Ivf.KnnMaxCand}) x$k") {
      Ivf.knnGraph(emb, tl, 5)
    }
    val coll = graph(s"knn_graph COLLAPSED(${Ivf.KnnMaxCand}) x$k") {
      Ivf.knnGraphCollapsed(emb, tl, 5)
    }
    val unc = graph(s"knn_graph UNCAPPED x$k") {
      Ivf.knnGraphOnCells(cells, 5, maxCand = 1 << 20)
    }
    val edge = Seq("vec_id", "neighbor_id", "cos", "rn").map(col)
    val collExact = unc.select(edge: _*).exceptAll(coll.select(edge: _*)).count()
    println(f"[scale] knn COLLAPSED vs UNCAPPED x$k: $collExact%d differing rows " +
      "(0 = bit-exact)")
    val nUnc = unc.count()
    val kept = unc.select(col("vec_id"), col("neighbor_id"))
      .join(capped.select(col("vec_id"), col("neighbor_id")),
        Seq("vec_id", "neighbor_id"), "left_semi").count()
    // the per-vector gap frame is cut once and read by all three
    // follow-ups (gap summary, worst vectors, loss distribution)
    def meanCos(g: DataFrame) = g.groupBy(col("vec_id"))
      .agg(avg(col("cos")).as("mc"))
    val perVec = Materialize.once(
      meanCos(capped).withColumnRenamed("mc", "mc_cap")
        .join(meanCos(unc).withColumnRenamed("mc", "mc_unc"), Seq("vec_id"))
        .select(col("vec_id"), (col("mc_unc") - col("mc_cap")).as("gap")))
    val gap = perVec
      .agg(avg(col("gap")).as("mean_gap"), max(col("gap")).as("max_gap")).head()
    println(f"[scale] knn cap quality x$k: edge-recall@5 ${kept.toDouble / nUnc}%.4f " +
      f"($kept%d / $nUnc%d)  neighbor-cos gap mean ${gap.getDouble(0)}%.6f " +
      f"max ${gap.getDouble(1)}%.6f")
    // the worst-gap vectors with their cell size: is the loss
    // concentrated where the cap bites?
    perVec
      .join(cells.select(col("vec_id"), col("cid")), Seq("vec_id"))
      .join(cells.groupBy(col("cid")).count(), Seq("cid"))
      .orderBy(col("gap").desc).limit(8).collect()
      .foreach { r =>
        println(f"[scale]   worst gap: vec ${r.getLong(1)}%9d  cell ${r.getLong(0)}%5d " +
          f"(size ${r.getLong(3)}%5d)  gap ${r.getDouble(2)}%.6f")
      }
    val dist = perVec
      .select((col("gap") > 0.01).cast("int").as("lossy"))
      .agg(sum(col("lossy")), count(lit(1))).head()
    println(f"[scale]   vectors with gap > 0.01: ${dist.getLong(0)} / ${dist.getLong(1)}")
    emb.unpersist(blocking = true)
  }

  /** Whether the SEALED iterative-kernel layout (`Dedup.clusters`'
    * byte-derived nParts, declared on the cut) widens with edge bytes
    * (ROADMAP item 7): partitions must grow once the edge list crosses
    * the 64 MB advisory, and no leg may collapse to too few tasks for its
    * bytes. Synthetic chain-blocks graph (blocks of 64 ⇒ ~7 pointer-jump
    * rounds) at two edge scales; the final labels frame IS the declared
    * layout, so its rdd partition count is the observable.
    */
  def layout(): Unit = Seq(2000000L, 20000000L).foreach { n =>
    val pairs = spark.range(n)
      .where(col("id") % 64 =!= 63) // chain within each 64-block
      .select(col("id").as("id1"), (col("id") + 1).as("id2"))
    val labels = time(s"cc_layout n=$n (edgeRows=${2 * (n - n / 64)})") {
      val l = graft.ops.Dedup.clusters(pairs); l.count(); l
    }
    println(s"[scale]   labelParts=${labels.rdd.getNumPartitions}")
    Materialize.releaseAll(spark, blocking = true)
  }
}
