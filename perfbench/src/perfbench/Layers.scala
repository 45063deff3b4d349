package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced phase. Counts and times are per traced
  * round; a layer that did not run reports 0.
  */
object Layers {

  /** Every per-layer metric, in report order, with its unit. */
  val units: Seq[(String, String)] = Seq(
    "engine.run_job_n" -> "count", "engine.run_job_s" -> "s",
    "engine.driver_gap_s" -> "s", "engine.resume_s" -> "s",
    "core.io.write_n" -> "count", "core.io.write_job_s" -> "s", "core.io.commit_s" -> "s",
    "core.io.files_written" -> "count", "core.io.bytes_written" -> "B",
    "core.io.write_amp" -> "ratio", "core.io.manifest_job_s" -> "s",
    "core.io.files_scanned" -> "count", "core.io.files_pruned" -> "count",
    "core.checkpoint_n" -> "count", "core.checkpoint_job_s" -> "s",
    "ops.exact_dedup_s" -> "s", "ops.neardup_s" -> "s", "ops.semdedup_s" -> "s",
    "ops.quality_s" -> "s", "ops.neardup.drop_frac" -> "ratio",
    "functions.dot_f.ns_per_row" -> "ns", "functions.dot_f.builtin_ns_per_row" -> "ns",
    "functions.nearest_cells.ns_per_row" -> "ns",
    "functions.nearest_cells.builtin_ns_per_row" -> "ns",
    "streaming.batches" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.trigger_overhead_s" -> "s", "streaming.jobs_per_batch" -> "count",
    "streaming.writes_per_batch" -> "count", "streaming.files_per_batch" -> "count",
    "streaming.landing_job_s" -> "s",
    "ops.index.build_s" -> "s", "ops.index.pairing_job_s" -> "s",
    "ops.index.append_job_s" -> "s", "ops.index.vacuum_s" -> "s",
    "ops.index.compact_s" -> "s", "ops.index.compact_bytes_rewritten" -> "B",
    "ops.index.files" -> "count", "ops.index.bytes_per_live_row" -> "B",
    "ops.index.tombstone_rows" -> "count", "ops.index.maint_s" -> "s",
    "ops.index.query_p50_ms" -> "ms", "ops.index.query_tail_ms" -> "ms",
    "spark.sql_n" -> "count", "spark.plan_s" -> "s", "spark.jobs" -> "count",
    "spark.tasks" -> "count", "spark.job_s" -> "s", "spark.task_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.busy_ratio" -> "ratio",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.skew_max" -> "ratio",
    "trace.overhead_s" -> "s", "trace.rounds" -> "count")

  /** A job's module: its innermost graft frame, else the layer of the span
    * the benchmark had open (the first part of the span name).
    */
  def moduleOf(t: Tracer, j: JobRec): String =
    if (j.module.nonEmpty) j.module
    else t.spans.lift(j.span - 1).map(_.name.takeWhile(_ != '.')).getOrElse("bench")

  def spanSeconds(t: Tracer, name: String): Double =
    t.spans.filter(_.name == name).map(_.seconds).sum

  /** Span time not covered by its child spans. */
  def selfSeconds(t: Tracer, s: Span): Double =
    s.seconds - t.spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Milliseconds of [from, to) covered by at least one of the intervals. */
  private def covered(from: Long, to: Long, iv: Seq[(Long, Long)]): Long = {
    var done = from
    var total = 0L
    iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > done) { total += b - math.max(a, done); done = b }
      }
    total
  }

  def common(t: Tracer, rounds: Seq[Round], cores: Int, inputBytes: Long,
             batches: Seq[BatchRec]): Map[String, Double] = {
    val n = math.max(rounds.size, 1).toDouble
    val jobs = t.jobs.values.asScala.toSeq
    val execSpan = t.execSpan
    val writes = t.writes.asScala.toSeq.filter(w => execSpan.contains(t.execOf(w.queryId)))
    val execBatch = t.execBatch
    val streamWrites = writes.filter(w => execBatch.contains(t.execOf(w.queryId)))
    // micro-batch jobs all carry the stream's start() call site, so they
    // are split by what their SQL execution wrote: an index table in the
    // warehouse (append), anything else (landing), or nothing (pairing)
    val (indexWrites, landingWrites) = streamWrites.partition(_.target.contains("/warehouse/"))
    val appendExecs = indexWrites.map(w => t.execOf(w.queryId)).toSet
    val landingExecs = landingWrites.map(w => t.execOf(w.queryId)).toSet
    val roundSpans = t.spans.filter(_.name == "round")
    val wall = roundSpans.map(_.seconds).sum
    val gapS = roundSpans.map { s =>
      s.seconds - covered(s.startMs, s.endMs, jobs.map(j => (j.start, j.end))) / 1e3
    }.sum
    def jobS(p: JobRec => Boolean) = jobs.filter(p).map(_.seconds).sum
    val bytesWritten = writes.map(_.bytes).sum.toDouble
    val taskS = jobs.map(_.taskMs).sum / 1e3
    val nb = math.max(batches.size, 1).toDouble
    val base = units.map(_._1 -> 0.0).toMap
    base ++ Map(
      "engine.run_job_n" -> t.spans.count(_.name == "engine.run_job") / n,
      "engine.run_job_s" -> spanSeconds(t, "engine.run_job") / n,
      "engine.driver_gap_s" -> gapS / n,
      "engine.resume_s" -> spanSeconds(t, "engine.resume") / n,
      "core.io.write_n" -> writes.size / n,
      "core.io.write_job_s" -> jobS(moduleOf(t, _) == "core.io") / n,
      "core.io.commit_s" -> writes.map(_.commitMs).sum / 1e3 / n,
      "core.io.files_written" -> writes.map(_.files).sum / n,
      "core.io.bytes_written" -> bytesWritten / n,
      "core.io.write_amp" -> bytesWritten / n / math.max(inputBytes, 1L),
      "core.io.manifest_job_s" ->
        jobS(_.anyFrame(f => f.contains("Skipping$") && f.contains("anifest"))) / n,
      "core.io.files_scanned" ->
        t.scans.asScala.filter(s => execSpan.contains(t.execOf(s.queryId))).map(_.files).sum / n,
      "core.checkpoint_n" -> jobs.count(_.anyFrame(_.contains("core.Checkpoints$"))) / n,
      "core.checkpoint_job_s" -> jobS(_.anyFrame(_.contains("core.Checkpoints$"))) / n,
      "streaming.batches" -> batches.size / n,
      "streaming.add_batch_s" -> batches.map(_.addBatchMs).sum / 1e3 / n,
      "streaming.trigger_overhead_s" ->
        batches.map(b => b.triggerMs - b.addBatchMs).sum / 1e3 / n,
      "streaming.jobs_per_batch" ->
        (if (batches.isEmpty) 0.0 else jobs.count(_.batch >= 0) / nb),
      "streaming.writes_per_batch" ->
        (if (batches.isEmpty) 0.0 else streamWrites.size / nb),
      "streaming.files_per_batch" ->
        (if (batches.isEmpty) 0.0 else streamWrites.map(_.files).sum / nb),
      "streaming.landing_job_s" -> jobS(j => landingExecs.contains(j.execId)) / n,
      "ops.index.append_job_s" -> jobS(j => appendExecs.contains(j.execId)) / n,
      "ops.index.pairing_job_s" -> jobS(j => j.batch >= 0 && !appendExecs.contains(j.execId) &&
        !landingExecs.contains(j.execId)) / n,
      "spark.sql_n" -> t.plans.size / n,
      "spark.plan_s" -> t.plans.asScala.map(_._2).sum / n,
      "spark.jobs" -> jobs.size / n,
      "spark.tasks" -> jobs.map(_.tasks).sum / n,
      "spark.job_s" -> jobs.map(_.seconds).sum / n,
      "spark.task_s" -> taskS / n,
      "spark.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3 / n,
      "spark.busy_ratio" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum / n,
      "spark.spill_bytes" -> jobs.map(_.spill).sum / n,
      "spark.skew_max" -> t.stageSkew.maxOption.getOrElse(0.0))
  }

  /** Traced Spark jobs grouped by their innermost graft frame: count and
    * seconds, heaviest first — where the job time went.
    */
  def jobSites(t: Tracer): Seq[Map[String, Any]] =
    t.jobs.values.asScala.toSeq
      .groupBy(j => j.frames.headOption.getOrElse(s"${moduleOf(t, j)}: ${j.site}"))
      .toSeq.map { case (site, js) => (site, js.size, js.map(_.seconds).sum) }
      .sortBy(-_._3).take(40)
      .map { case (site, n, s) => Map("site" -> site, "jobs" -> n, "seconds" -> s) }

  /** Workload samples taken in the untraced phase (query latency,
    * maintenance time).
    */
  def extra(samples: Map[String, Seq[Double]]): Map[String, Double] = {
    val q = samples.getOrElse("query_ms", Nil)
    val m = samples.getOrElse("maint_s", Nil)
    if (q.isEmpty && m.isEmpty) Map.empty
    else Map("ops.index.query_p50_ms" -> Stats.median(q),
      "ops.index.query_tail_ms" -> Stats.tail(q)._2,
      "ops.index.maint_s" -> Stats.median(m))
  }
}
