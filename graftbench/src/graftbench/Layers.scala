package graftbench

/** Per-layer metrics from the traced operations: each value is taken per
  * operation and reported as the median over the traced operations.
  * Layers a workload does not call read 0. Layer times are span self
  * times; counts and volumes come from the engine counters attached to
  * the span, or to the whole operation for `engine.*`. */
object Layers {

  private val MB = 1e6

  def metrics(t: Tracer, traced: Seq[(Int, OpOutcome)], cores: Int, untracedRunS: Double,
              peakHeapMb: Double, speedupVs1Core: Double): Seq[(String, String, Double)] = {
    def spans(o: Int, name: String) = t.spans.filter(s => s.op == o && s.name == name)
    def self(name: String)(o: Int) = spans(o, name).map(t.selfSeconds).sum
    def ctr(name: String, key: String, scale: Double = 1.0)(o: Int) =
      spans(o, name).map(_.counters.getOrElse(key, 0.0)).sum / scale
    def gauge(name: String)(o: Int) =
      t.gauges.filter(g => g._1 == o && g._2 == name).map(_._3).sum
    def perEvent(key: String)(o: Int) = {
      val ev = gauge("events")(o)
      if (ev > 0) ctr("op", key)(o) / ev else 0.0
    }
    def opSeconds(o: Int) = traced.find(_._1 == o).map(_._2.totalS).getOrElse(0.0)
    def busy(o: Int) = {
      val s = opSeconds(o)
      if (s > 0) ctr("op", "task_run_ms", 1000.0)(o) / (s * cores) else 0.0
    }

    val perOp: Seq[(String, String, Int => Double)] = Seq(
      ("streaming.apply_s", "s", self("streaming.apply")),
      ("streaming.apply_tasks", "count", ctr("streaming.apply", "tasks")),
      ("streaming.apply_shuffle_mb", "MB", ctr("streaming.apply", "shuffle_write_bytes", MB)),
      ("streaming.buckets_touched_ratio", "ratio", gauge("buckets_touched_ratio")),
      ("sources.write_snapshot_s", "s", ctr("op", "write_ns", 1e9)),
      ("sources.lake_mb_written", "MB", ctr("op", "output_bytes", MB)),
      ("sources.lake_rows_written_per_event", "ratio", perEvent("output_records")),
      ("cdc.apply_log_s", "s", self("cdc.apply_log")),
      ("cdc.apply_log_shuffle_mb", "MB", ctr("cdc.apply_log", "shuffle_write_bytes", MB)),
      ("cdc.apply_log_spill_mb", "MB", ctr("cdc.apply_log", "spill_bytes", MB)),
      ("recon.bucket_digest_s", "s", self("recon.bucket_digest")),
      ("recon.drill_down_s", "s", self("recon.drill_down")),
      ("recon.row_diff_s", "s", self("recon.row_diff")),
      ("recon.health_s", "s", self("recon.health")),
      ("recon.bad_buckets", "count", gauge("bad_buckets")),
      ("recon.drill_rows_ratio", "ratio", gauge("drill_rows_ratio")),
      ("dedup.exact_s", "s", self("dedup.exact")),
      ("dedup.minhash_s", "s", self("dedup.minhash")),
      ("dedup.components_s", "s", self("dedup.components")),
      ("dedup.candidate_pairs", "count", gauge("candidate_pairs")),
      ("dedup.pair_precision", "ratio", gauge("pair_precision")),
      ("dedup.minhash_shuffle_mb", "MB", ctr("dedup.minhash", "shuffle_write_bytes", MB)),
      ("similarity.knn_s", "s", self("similarity.knn")),
      ("similarity.pairs_scored", "count", gauge("pairs_scored")),
      ("similarity.knn_spill_mb", "MB", ctr("similarity.knn", "spill_bytes", MB)),
      ("engine.jobs", "count", ctr("op", "jobs")),
      ("engine.stages", "count", ctr("op", "stages")),
      ("engine.tasks", "count", ctr("op", "tasks")),
      ("engine.task_run_s", "s", ctr("op", "task_run_ms", 1000.0)),
      ("engine.task_cpu_s", "s", ctr("op", "task_cpu_ns", 1e9)),
      ("engine.gc_s", "s", ctr("op", "gc_ms", 1000.0)),
      ("engine.scheduler_delay_s", "s", ctr("op", "scheduler_delay_ms", 1000.0)),
      ("engine.shuffle_write_mb", "MB", ctr("op", "shuffle_write_bytes", MB)),
      ("engine.shuffle_read_mb", "MB", ctr("op", "shuffle_read_bytes", MB)),
      ("engine.spill_mb", "MB", ctr("op", "spill_bytes", MB)),
      ("engine.input_mb", "MB", ctr("op", "input_bytes", MB)),
      ("engine.output_mb", "MB", ctr("op", "output_bytes", MB)),
      ("engine.busy_ratio", "ratio", busy))
    val ops = traced.map(_._1)
    val tracedRunS = Main.median(traced.map(_._2.totalS))
    perOp.map { case (n, u, f) => (n, u, Main.median(ops.map(f))) } ++ Seq(
      ("engine.peak_heap_mb", "MB", peakHeapMb),
      ("engine.speedup_vs_1core", "ratio", speedupVs1Core),
      ("trace.overhead_s", "s", tracedRunS - untracedRunS))
  }
}
