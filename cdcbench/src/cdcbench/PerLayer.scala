package cdcbench

/** Every per-layer metric the traced run prints, with its unit. A workload
  * that does not reach a layer reports 0 for it; `run.py` checks this list
  * against `BENCHMARK.json`. */
object PerLayer {
  val spark: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "B", "spark.input_bytes" -> "B",
    "spark.output_bytes" -> "B", "spark.spill_bytes" -> "B", "spark.plan_ms" -> "ms",
    "spark.unattributed_job_share" -> "ratio")

  val layers: Seq[(String, String)] = Layers.reported.flatMap { l =>
    Seq(s"$l.jobs" -> "count", s"$l.job_s" -> "s", s"$l.task_cpu_s" -> "s",
      s"$l.shuffle_write_bytes" -> "B", s"$l.output_bytes" -> "B")
  }

  val phases: Seq[(String, String)] = Seq(
    "ingest.replayLog_s" -> "s", "ingest.replayLog_driver_s" -> "s",
    "ingest.Mor.fold_s" -> "s",
    "streaming.batches" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.addBatch_ms_p50" -> "ms", "streaming.overhead_ms_p50" -> "ms",
    "streaming.driver_ms_p50" -> "ms", "streaming.jobs_per_batch" -> "count",
    "streaming.rows_per_batch_p50" -> "count") ++
    LiveTail.ruleNames.map(r => s"rule.$r.freshness_p50_ms" -> "ms") ++ Seq(
    "tail.chain_freshness_p50_ms" -> "ms",
    "ingest.ChainApply.sync_ms_p50" -> "ms", "lake.peekSnapshot_ms_p50" -> "ms",
    "ingest.mor_backlog_events_p50" -> "count", "gen.lateness_ms_max" -> "ms",
    "lake.files" -> "count", "lake.delta_files" -> "count", "lake.table_bytes" -> "B",
    "lake.snapshots" -> "count", "lake.bytes_written_per_event" -> "B",
    "operators.sigstore_build_s" -> "s",
    "gen.oracle_s" -> "s", "trace.latency_p50_ms" -> "ms")

  val all: Seq[(String, String)] = spark ++ layers ++ phases

  def fillAbsent(m: Metrics): Unit =
    all.foreach { case (n, u) => if (m.get(n).isEmpty) m.put(n, 0.0, u) }
}
