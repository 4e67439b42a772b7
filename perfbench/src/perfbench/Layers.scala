package perfbench

/** Per-layer metrics of a traced run: totals over the traced ops (whose
 *  number depends only on the workload and `--seconds`), and ratios of such
 *  totals. A layer's time is its spans' self time; `driver_gap_ms` is the
 *  part of it in which none of the span's own Spark jobs ran. */
object Layers {
  def metrics(rolled: Seq[Trace.Rolled], rec: Recorder, gcMs: Double,
      heapPeakMb: Double): Seq[(String, Double, String)] = {
    def of(layer: String) = rolled.filter(_.layer == layer)
    def self(layer: String) = of(layer).map(_.selfMs).sum
    def named(name: String) = rolled.filter(r => r.span.name == name && r.layer != "commit")
      .map(_.selfMs).sum
    def jobs(layer: String) = of(layer).map(_.jobs.size).sum.toDouble
    def gap(layer: String) = of(layer).map(_.gapMs).sum
    def fs(layer: String) = of(layer).map(_.fsOps).sum.toDouble
    def stages(layer: String) = of(layer).flatMap(_.stages)
    def shuffleStages(layer: String) = stages(layer).filter(_.shuffleWrite > 0)
    def shuffleBytes(layer: String) = stages(layer).map(_.shuffleWrite).sum.toDouble
    def execs(layer: String) = of(layer).flatMap(_.execs)
    def rowsOut(layer: String) = of(layer).map(_.span.rows).sum.toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val progress = Trace.streamProgress
    def stream(k: String) =
      if (progress.isEmpty) 0.0 else progress.map(_.getOrElse(k, 0.0)).sum / progress.size
    val overhead = {
      val pairs = rec.pairedMedians
      ratio(pairs.map(_._2).sum, pairs.map(_._3).sum)
    }
    val liveBytes = of("compaction").map(_.span.counts.getOrElse("live_bytes", 0.0)).sum
    Seq(
      ("sources.wall_ms", self("sources"), "ms"),
      ("sources.plan_ms", execs("sources").map(_.planMs).sum, "ms"),
      ("sources.driver_gap_ms", gap("sources"), "ms"),
      ("sources.jobs", jobs("sources"), "count"),
      ("sources.fs_meta_ops", fs("sources"), "count"),
      ("sources.files_listed", execs("sources").map(_.listed).sum.toDouble, "count"),
      ("sources.files_planned", execs("sources").map(_.planned).sum.toDouble, "count"),
      ("sources.files_planned_per_listed", ratio(execs("sources").map(_.planned).sum.toDouble,
        execs("sources").map(_.listed).sum.toDouble), "ratio"),
      ("sources.rows_scanned_per_row_returned",
        ratio(execs("sources").map(_.scanRows).sum.toDouble, rowsOut("sources")), "ratio"),
      ("write.wall_ms", self("write"), "ms"),
      ("write.map_stage_ms", shuffleStages("write").map(_.ms).sum, "ms"),
      ("write.encode_stage_ms", stages("write").filter(_.output > 0).map(_.ms).sum, "ms"),
      ("write.shuffle_bytes", shuffleBytes("write"), "B"),
      ("write.bytes_written_per_input_byte", {
        val fed = of("write").filter(_.span.counts.contains("input_bytes"))
        ratio(fed.flatMap(_.stages).map(_.output).sum.toDouble,
          fed.map(_.span.counts("input_bytes")).sum)
      }, "ratio"),
      ("write.jobs", jobs("write"), "count"),
      ("commit.tail_ms", self("commit"), "ms"),
      ("commit.fs_meta_ops", fs("commit"), "count"),
      ("streaming.wall_ms", self("streaming"), "ms"),
      ("streaming.latest_offset_ms", stream("latestOffset"), "ms"),
      ("streaming.add_batch_ms", stream("addBatch"), "ms"),
      ("streaming.query_planning_ms", stream("queryPlanning"), "ms"),
      ("streaming.wal_commit_ms", stream("walCommit"), "ms"),
      ("normalize.wall_ms", self("normalize"), "ms"),
      ("normalize.driver_gap_ms", gap("normalize"), "ms"),
      ("normalize.exchanges", shuffleStages("normalize").size.toDouble, "count"),
      ("normalize.shuffle_bytes", shuffleBytes("normalize"), "B"),
      ("normalize.rows_in_per_row_out",
        ratio(execs("normalize").map(_.scanRows).sum.toDouble, rowsOut("normalize")), "ratio"),
      ("compaction.wall_ms", self("compaction"), "ms"),
      ("compaction.jobs", jobs("compaction"), "count"),
      ("compaction.driver_gap_ms", gap("compaction"), "ms"),
      ("compaction.bytes_rewritten_per_live_byte",
        ratio(stages("compaction").map(_.output).sum.toDouble, liveBytes), "ratio"),
      ("diff.wall_ms", self("diff"), "ms"),
      ("diff.jobs", jobs("diff"), "count"),
      ("diff.driver_gap_ms", gap("diff"), "ms"),
      ("diff.bytes_read_per_changed_row",
        ratio(execs("diff").map(_.bytesPlanned).sum.toDouble, rowsOut("diff")), "B/row"),
      ("operators.exact_ms", named("exact"), "ms"),
      ("operators.near_dup_ms", named("near_dup"), "ms"),
      ("operators.frequent_lines_ms", named("frequent_lines"), "ms"),
      ("operators.countlm_ms", named("countlm"), "ms"),
      ("operators.exchanges", shuffleStages("operators").size.toDouble, "count"),
      ("operators.shuffle_bytes", shuffleBytes("operators"), "B"),
      ("jvm.gc_ms", gcMs, "ms"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.overhead_ratio", overhead, "ratio"))
  }
}
