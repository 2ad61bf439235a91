package perfbench

/** The per-layer metrics of a traced run: one list, in the order
  * `BENCHMARK.json` names them, and how one traced round fills them in.
  *
  * A workload reports a layer number either as a span named after the
  * metric (its wall time, optionally under the `probe.` prefix when the
  * span only materializes a lazy step) or as an explicit count. Every
  * traced run prints every metric; a layer the workload never calls reads
  * 0, which is itself the prediction (e.g. `functions.rowhash.rows` on
  * `reconcile`).
  */
object Layers {

  val corpusSteps: Seq[String] = Seq("dedup_by_url", "keep_lang_heuristic",
    "gopher_quality", "c4_clean", "dedup_near_portable", "dedup_substrings_step",
    "redact_pii", "quality_floor")

  val names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s",
    "spark.task_s" -> "s",
    "spark.parallelism" -> "ratio",
    "spark.shuffle_read_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.gc_s" -> "s",
    "spark.peak_exec_mem_bytes" -> "B",
    "spark.input_bytes" -> "B",
    "pipeline.scan.busy_s" -> "s",
    "pipeline.scan.rows" -> "count",
    "pipeline.key_audit.busy_s" -> "s",
    "pipeline.sink.busy_s" -> "s",
    "pipeline.sink.rows_written" -> "count",
    "pipeline.sink.bytes_written" -> "B",
    "pipeline.sink.files_written" -> "count",
    "pipeline.sink.rows_written_per_changed_row" -> "ratio") ++
    corpusSteps.flatMap(s => Seq(
      s"pipeline.corpus.$s.busy_s" -> "s",
      s"pipeline.corpus.$s.rows_in" -> "count",
      s"pipeline.corpus.$s.rows_out" -> "count")) ++ Seq(
    "functions.rowhash.busy_s" -> "s",
    "functions.rowhash.rows" -> "count",
    "operators.merge.classify_s" -> "s",
    "operators.merge.apply_s" -> "s",
    "operators.merge.inserts" -> "count",
    "operators.merge.updates" -> "count",
    "operators.merge.skips" -> "count",
    "operators.reconcile.monthly_s" -> "s",
    "operators.reconcile.align_s" -> "s",
    "operators.reconcile.orphans_s" -> "s",
    "operators.reconcile.topk_s" -> "s",
    "operators.aggregates.state_s" -> "s",
    "operators.aggregates.sums_s" -> "s",
    "operators.dedup.candidate_pairs" -> "count",
    "operators.dedup.verified_pairs" -> "count",
    "operators.dedup.pair_yield" -> "ratio",
    "operators.dedup.max_bucket_rows" -> "count",
    "operators.dedup.components_s" -> "s",
    "operators.dedup.losers" -> "count",
    "index.minhash.append_s" -> "s",
    "index.minhash.probe_s" -> "s",
    "index.delete_s" -> "s",
    "index.compact_s" -> "s",
    "index.bytes_written" -> "B",
    "index.files" -> "count",
    "index.compact_bytes_rewritten" -> "B",
    "index.tombstone_frac" -> "ratio",
    "index.probe_candidates_per_hit" -> "ratio",
    "jvm.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB",
    "trace_overhead_frac" -> "ratio")

  /** Length of the part of [t0, t1] covered by any of `iv`. */
  def covered(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = iv.map { case (a, b) => (a.max(t0), b.min(t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      val s = a.max(end)
      if (b > s) { total += b - s; end = b }
    }
    total
  }

  def fromRound(tr: Tracer, cores: Int, gcS: Double): Map[String, Double] = {
    val main = tr.ledger.snapshot().filter { case (g, _) => !g.startsWith(Ledger.ProbePrefix) }.values.toSeq
    val mainSpans = tr.spans.filterNot(_._1.startsWith(Ledger.ProbePrefix))
    val jobIv = main.flatMap(_.intervals)
    val spanWall = mainSpans.map { case (_, a, b) => (b - a) / 1000.0 }.sum
    val gap = mainSpans.map { case (_, a, b) => (b - a) - covered(jobIv, a, b) }.sum / 1000.0
    val taskS = main.map(_.taskMs).sum / 1000.0
    val spark = Map(
      "spark.jobs" -> main.map(_.jobs).sum.toDouble,
      "spark.stages" -> main.map(_.stages).sum.toDouble,
      "spark.tasks" -> main.map(_.tasks).sum.toDouble,
      "spark.driver_gap_s" -> gap,
      "spark.task_s" -> taskS,
      "spark.parallelism" -> (if (spanWall > 0) taskS / (spanWall * cores) else 0.0),
      "spark.shuffle_read_bytes" -> main.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> main.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> main.map(_.spill).sum.toDouble,
      "spark.gc_s" -> main.map(_.gcMs).sum / 1000.0,
      "spark.peak_exec_mem_bytes" -> main.map(_.peakExecMem).foldLeft(0L)(_ max _).toDouble,
      "spark.input_bytes" -> main.map(_.inputBytes).sum.toDouble,
      "jvm.gc_s" -> gcS)
    names.map { case (n, _) =>
      n -> spark.getOrElse(n,
        if (tr.hasCount(n)) tr.counted(n)
        else tr.wall(n) + tr.wall(Ledger.ProbePrefix + n))
    }.toMap
  }
}
