package perfbench

/** Turns a finished run into named metrics: (value, unit).
  *
  * End to end, from an untraced run: `setup_s` and `round_cpu_s`, the
  * CPU time of one round of the workload's fixed operation mix (the
  * sum, over its operation kinds, of count x median CPU time; an
  * operation's CPU time is its Java threads' CPU time plus GC pauses).
  *
  * Per layer, from a traced run: counts summed over each span and its
  * descendants, averaged per span of that name (0 where the workload
  * never calls the layer); the workload's own figures (throughputs and
  * latency percentiles); `trace.round_s`, the wall time of one round
  * (the same sum over median walls) with tracing on; and
  * `jvm.round_jit_s`, the JIT compiler time of one round, which
  * `round_cpu_s` leaves out. */
object Metrics {

  type M = Seq[(String, (Double, String))]

  private def roundS(run: Run, w: Workload): Double =
    w.roundMix.map { case (k, n) => n * Stats.median(run.wallsOf(k)) }.sum

  private def roundCpuS(run: Run, w: Workload): Double =
    w.roundMix.map { case (k, n) => n * Stats.median(run.cpusOf(k)) }.sum

  private def roundJitS(run: Run, w: Workload): Double =
    w.roundMix.map { case (k, n) => n * Stats.median(run.jitsOf(k)) }.sum

  def all(run: Run, w: Workload, setupS: Double, traced: Boolean): M = {
    val e2e = Seq("setup_s" -> (setupS, "s"), "round_cpu_s" -> (roundCpuS(run, w), "s"))
    if (!traced) e2e else e2e ++ layers(run, w)
  }

  /** Inclusive counts of a span: its own plus all descendants'. */
  private final case class Incl(wall: Double, jobs: Double, tasks: Double,
                                cpuS: Double, gcS: Double, shuffleRead: Double,
                                shuffleWrite: Double, spill: Double,
                                fsRead: Double, fsWritten: Double,
                                fsReadOps: Double, fsWriteOps: Double,
                                jobS: Double, gapS: Double)

  private def layers(run: Run, w: Workload): M = {
    val spans = run.tracer.all
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    def incl(s: Span): Incl = {
      val t = subtree(s)
      val c = t.map(_.counts)
      val iv = c.flatMap(_.intervals.map(a => (a(0), if (a(1) < 0) s.endMs else a(1))))
      val jobS = Tracer.unionMs(iv) / 1000.0
      def sum(f: JobCounts => Long): Double = c.map(f).sum.toDouble
      Incl(s.wallS, sum(_.jobs.toLong), sum(_.tasks), sum(_.taskCpuNs) / 1e9,
        sum(_.gcMs) / 1e3, sum(_.shuffleReadBytes), sum(_.shuffleWriteBytes),
        sum(_.spillBytes), s.fs.bytesRead.toDouble, s.fs.bytesWritten.toDouble,
        s.fs.readOps.toDouble, s.fs.writeOps.toDouble, jobS,
        math.max(0.0, s.wallS - jobS))
    }
    val byName = spans.groupBy(_.name).map { case (k, v) => k -> v.map(incl) }
    def span(name: String, f: Incl => Double): Double =
      Stats.mean(byName.getOrElse(name, Nil).map(f))
    def note(name: String): Double = Stats.mean(run.notes.getOrElse(name, Nil).toSeq)
    def p50(kind: String): Double = Stats.median(run.wallsOf(kind))
    def p90(kind: String): Double = Stats.pct(run.wallsOf(kind), 90)

    def sliceS(group: String): Double = w.querySlice.filter(_.group == group)
      .map(_.medianSumS(run)).getOrElse(0.0)
    val mb = w match { case d: Discover => d.corpusMb; case _ => 0.0 }
    def mbPerS(kind: String): Double = if (p50(kind) > 0) mb / p50(kind) else 0.0
    val lookupTasks = span("sources.lookup", _.tasks)
    val scanTasks = span("infer.materialize", _.tasks)
    val ingestRowsPerS = w match {
      case i: Ingest =>
        // committed rows net of deletes, over the loop's operation wall
        val appended = run.wallsOf("sources.append").size.toDouble * i.appendRows
        val deleted = run.wallsOf("sources.delete").size.toDouble * i.appendRows
        val wall = w.roundMix.map { case (k, _) => run.wallsOf(k).sum }.sum
        if (wall > 0) (appended - deleted) / wall else 0.0
      case _ => 0.0
    }
    val scanRowsPerS = w match {
      case q: Query if p50("sources.scan") > 0 => q.rows / p50("sources.scan")
      case _ => 0.0
    }

    Seq(
      "types.merge_ns_per_doc" -> (note("types.merge_ns_per_doc"), "ns"),
      "types.schema_leaf_paths" -> (note("types.schema_leaf_paths"), "count"),
      "types.union_paths" -> (note("types.union_paths"), "count"),
      "infer.parse_ns_per_doc" -> (note("infer.parse_ns_per_doc"), "ns"),
      "infer.pass.jobs" -> (span("infer.pass", _.jobs), "count"),
      "infer.pass.tasks" -> (span("infer.pass", _.tasks), "count"),
      "infer.pass.task_cpu_s" -> (span("infer.pass", _.cpuS), "s"),
      "infer.pass.gc_s" -> (span("infer.pass", _.gcS), "s"),
      "infer.pass.driver_gap_s" -> (span("infer.pass", _.gapS), "s"),
      "infer.pass.shuffle_write_bytes" -> (span("infer.pass", _.shuffleWrite), "bytes"),
      "infer.materialize.task_cpu_s" -> (span("infer.materialize", _.cpuS), "s"),
      "infer.materialize.rows" -> (note("infer.materialize.rows"), "count"),
      "shred.cells" -> (note("shred.cells"), "count"),
      "shred.files_written" -> (note("shred.files_written"), "count"),
      "shred.bytes_written" -> (span("shred", _.fsWritten), "bytes"),
      "shred.task_cpu_s" -> (span("shred", _.cpuS), "s"),
      "shred.spill_bytes" -> (span("shred", _.spill), "bytes"),
      "shred.driver_gap_s" -> (span("shred", _.gapS), "s"),
      "sources.plan.s" -> (span("sources.plan", _.wall), "s"),
      "sources.plan.jobs" -> (span("sources.plan", _.jobs), "count"),
      "sources.lookup.tasks" -> (lookupTasks, "count"),
      "sources.lookup.files_read_share" ->
        (if (scanTasks > 0) lookupTasks / scanTasks else 0.0, "ratio"),
      "sources.lookup.fs_bytes_read" -> (span("sources.lookup", _.fsRead), "bytes"),
      "sources.range.tasks" -> (span("sources.range", _.tasks), "count"),
      "sources.range.fs_bytes_read" -> (span("sources.range", _.fsRead), "bytes"),
      "sources.scan.task_cpu_s" -> (span("sources.scan", _.cpuS), "s"),
      "sources.scan.fs_bytes_read" -> (span("sources.scan", _.fsRead), "bytes"),
      "sources.append.jobs" -> (span("sources.append", _.jobs), "count"),
      "sources.append.driver_gap_s" -> (span("sources.append", _.gapS), "s"),
      "sources.append.fs_write_ops" -> (span("sources.append", _.fsWriteOps), "count"),
      "sources.append.fs_read_ops" -> (span("sources.append", _.fsReadOps), "count"),
      "sources.append.bytes_written_per_user_byte" ->
        (note("sources.append.bytes_written_per_user_byte"), "ratio"),
      "sources.delete.jobs" -> (span("sources.delete", _.jobs), "count"),
      "sources.delete.fs_ops" -> (span("sources.delete", i => i.fsReadOps + i.fsWriteOps), "count"),
      "sources.compact.s" -> (span("sources.compact", _.wall), "s"),
      "sources.compact.jobs" -> (span("sources.compact", _.jobs), "count"),
      "sources.compact.bytes_rewritten" -> (span("sources.compact", _.fsWritten), "bytes"),
      "sources.compact.files_before" -> (note("sources.compact.files_before"), "count"),
      "sources.compact.files_after" -> (note("sources.compact.files_after"), "count"),
      "sources.live_files" -> (note("sources.live_files"), "count"),
      "ops.cdc_merge.jobs" -> (span("ops.cdc_merge", _.jobs), "count"),
      "ops.cdc_merge.driver_gap_s" -> (span("ops.cdc_merge", _.gapS), "s"),
      "ops.cdc_merge.shuffle_bytes" ->
        (span("ops.cdc_merge", i => i.shuffleRead + i.shuffleWrite), "bytes"),
      "ops.cdc_merge.fs_write_ops" -> (span("ops.cdc_merge", _.fsWriteOps), "count"),
      "queries.analysis_s" -> (note("queries.analysis_s"), "s"),
      "queries.optimization_s" -> (note("queries.optimization_s"), "s"),
      "queries.planning_s" -> (note("queries.planning_s"), "s"),
      "queries.jobs" -> (span("queries.run", _.jobs), "count"),
      "queries.job_s" -> (span("queries.run", _.jobS), "s"),
      "queries.driver_gap_s" -> (span("queries.run", _.gapS), "s"),
      "queries.task_cpu_s" -> (span("queries.run", _.cpuS), "s"),
      "queries.shuffle_bytes" ->
        (span("queries.run", i => i.shuffleRead + i.shuffleWrite), "bytes"),
      "queries.spill_bytes" -> (span("queries.run", _.spill), "bytes"),
      "queries.lifecycle_s" -> (sliceS("lifecycle"), "s"),
      "queries.short_s" -> (sliceS("short"), "s"),
      "sources.append_p90_s" -> (p90("sources.append"), "s"),
      "sources.delete_p90_s" -> (p90("sources.delete"), "s"),
      "ops.cdc_merge_p90_s" -> (p90("ops.cdc_merge"), "s"),
      "sources.lookup_p90_s" -> (p90("sources.lookup"), "s"),
      "sources.range_p90_s" -> (p90("sources.range"), "s"),
      "infer_mb_per_s" -> (mbPerS("infer.pass"), "MB/s"),
      "shred_mb_per_s" -> (mbPerS("shred"), "MB/s"),
      "load_mb_per_s" -> (mbPerS("discover.load"), "MB/s"),
      "append_p50_s" -> (p50("sources.append"), "s"),
      "delete_p50_s" -> (p50("sources.delete"), "s"),
      "cdc_merge_p50_s" -> (p50("ops.cdc_merge"), "s"),
      "ingest_rows_per_s" -> (ingestRowsPerS, "rows/s"),
      "stored_bytes_per_user_byte" -> (note("ingest.stored_bytes_per_user_byte"), "ratio"),
      "lookup_p50_s" -> (p50("sources.lookup"), "s"),
      "range_p50_s" -> (p50("sources.range"), "s"),
      "scan_rows_per_s" -> (scanRowsPerS, "rows/s"),
      "inventory_s" -> (w.querySlice.map(_.medianSumS(run)).getOrElse(0.0), "s"),
      "trace.round_s" -> (roundS(run, w), "s"),
      "jvm.round_jit_s" -> (roundJitS(run, w), "s"),
      "trace.spans" -> (spans.size.toDouble, "count"),
    )
  }
}
