package graftbench

/** Per-layer metrics of a traced run, from its spans and Spark events.
  * Figures are per traced pass unless they are peaks or end-state facts.
  * A layer the workload does not touch reports 0.
  */
object Layers {
  def metrics(tr: Tracer, sessionS: Double, extras: Map[String, Double]): Seq[(String, Double, String)] = {
    val tap = tr.tap
    val n = math.max(1, tr.tracedPasses).toDouble
    val opWall = tr.spans.filter(_.parent < 0).map(_.wallS).sum
    def wall(name: String) = tr.spans.filter(_.name == name).map(_.wallS).sum / n

    tap.synchronized {
      // events inside traced passes, each with the span it ran in
      val jobs = tap.jobs.flatMap(j => tr.spanOf(j.prop, j.timeMs).map(j -> _)).toSeq
      val stageJob = jobs.flatMap { case (j, s) => j.stages.map(_ -> s) }.toMap
      val tasks = tap.tasks.filter(t => stageJob.contains(t.stage)).toSeq
      val stages = stageJob.keySet.intersect(tap.stages)
      val queries = tap.queries.flatMap(q => tr.spanOf(None, q.timeMs).map(q -> _)).toSeq
      val progress = tap.progress.filter(p => tr.spanOf(None, p.timeMs).isDefined).toSeq
      def q(prefixes: String*)(f: Tap.Query => Double) =
        queries.collect { case (x, s) if prefixes.exists(tr.under(s, _)) => f(x) }.sum / n
      def allQ(f: Tap.Query => Double) = queries.map(x => f(x._1)).sum / n
      def tsum(f: Tap.Task => Double) = tasks.map(f).sum / n
      def dur(k: String) = progress.map(_.durations.getOrElse(k, 0L)).sum / n
      val writers = Seq("ohlcv.write", "ohlcv.cascade", "streaming.ingest")

      Seq(
        ("core.session_s", sessionS, "s"),
        ("core.materialize_blocks", tr.peakMatBlocks.toDouble, "count"),
        ("core.cached_bytes", tap.peakCachedBytes.toDouble, "B"),
        ("plan.queries", queries.size / n, "count"),
        ("plan.analysis_ms", allQ(_.analysisMs), "ms"),
        ("plan.optimizer_ms", allQ(_.optimizerMs), "ms"),
        ("plan.physical_ms", allQ(_.physicalMs), "ms"),
        ("sched.jobs", jobs.size / n, "count"),
        ("sched.stages", stages.size / n, "count"),
        ("sched.tasks", tasks.size / n, "count"),
        ("sched.gap_s", (opWall - tasks.map(_.runS).sum / tr.cores) / n, "s"),
        ("exec.task_cpu_s", tsum(_.cpuS), "s"),
        ("exec.gc_s", tsum(_.gcS), "s"),
        ("exec.shuffle_write_bytes", tsum(_.shufW.toDouble), "B"),
        ("exec.shuffle_read_bytes", tsum(_.shufR.toDouble), "B"),
        ("exec.fetch_wait_s", tsum(_.fetchWaitS), "s"),
        ("exec.spill_bytes", tsum(_.spill.toDouble), "B"),
        ("exec.codegen_compiles", tr.codegenCompiles / n, "count"),
        ("sources.files_read", allQ(_.scanFiles.toDouble), "count"),
        ("sources.scan_bytes", allQ(_.scanBytes.toDouble), "B"),
        ("sources.scan_s", allQ(_.scanS), "s"),
        ("sources.metadata_s", allQ(_.metadataS), "s"),
        ("ohlcv.write_1m_s", wall("ohlcv.write_1m"), "s"),
        ("ohlcv.cascade_s", wall("ohlcv.cascade"), "s"),
        ("ohlcv.candles_written", q(writers: _*)(_.writeRows.toDouble), "count"),
        ("ohlcv.files_written", q(writers: _*)(_.writeFiles.toDouble), "count"),
        ("ohlcv.bytes_written", q(writers: _*)(_.writeBytes.toDouble), "B"),
        ("ohlcv.commit_s", q(writers: _*)(_.commitS), "s"),
        ("ohlcv.read_merged_s", wall("ohlcv.read_merged"), "s"),
        ("ohlcv.store_files", extras.getOrElse("ohlcv.store_files", 0.0), "count"),
        ("ohlcv.fold_ratio", extras.getOrElse("ohlcv.fold_ratio", 0.0), "ratio"),
        ("ohlcv.analytics_s", wall("ohlcv.analytics"), "s"),
        ("operators.asof_s", wall("operators.asof"), "s"),
        ("operators.asof_rows_in", q("operators.asof")(_.asofIn.toDouble), "count"),
        ("operators.asof_rows_out", tr.counters("operators.asof_rows_out") / n, "count"),
        ("streaming.trigger_ms", dur("triggerExecution"), "ms"),
        ("streaming.add_batch_ms", dur("addBatch"), "ms"),
        ("streaming.wal_commit_ms", dur("walCommit"), "ms"),
        ("streaming.planning_ms", dur("queryPlanning"), "ms"),
        ("streaming.rows_in", progress.map(_.rows).sum / n, "count"),
        ("sinks.sqlite_s", wall("sinks.sqlite_export"), "s"),
        ("sinks.sqlite_files", tr.counters("sinks.sqlite_files") / n, "count"),
        ("sinks.sqlite_bytes", tr.counters("sinks.sqlite_bytes") / n, "B"),
        ("ops.profile_s", wall("ops.profile"), "s"),
        ("ops.expand_rows", q("ops.profile")(_.expandRows.toDouble), "count"),
        ("ops.pipeline_s", wall("ops.pipeline"), "s"),
        ("ops.corpus_dedup_s", wall("ops.corpus_dedup"), "s"),
        ("ops.semantic_dedup_s", wall("ops.semantic_dedup"), "s"),
        ("ops.longest_repeat_s", wall("ops.longest_repeat"), "s"),
        ("ops.dedup_pairs", tr.counters("ops.dedup_pairs") / n, "count"),
        ("ops.docs_kept", tr.counters("ops.docs_kept") / n, "count"),
        ("ops.cc_jobs", jobs.count { case (_, s) => tr.under(s, "ops.corpus_dedup") } / n, "count"))
    }
  }
}
