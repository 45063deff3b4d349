package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.model.JobSpec
import java.time.LocalDate

/** Dependency-DAG execution (reference Flow, yaetos/etl_utils.py:1418-1518,
  * minus networkx): extract the upstream subtree of the target job,
  * topologically order it (Kahn), run each job in order, passing outputs
  * in-memory to downstream jobs (`chain_dependencies` — the output of job
  * J is available to any successor input named J or declaring `from: J`).
  */
object Flow {

  /** Upstream closure of `target` (target included). */
  def upstream(jobs: Map[String, JobSpec], target: String): Map[String, JobSpec] = {
    val seen = collection.mutable.Set.empty[String]
    def visit(n: String): Unit = if (seen.add(n)) {
      val j = jobs.getOrElse(n, sys.error(s"unknown job in DAG: $n"))
      j.dependencies.foreach(visit)
    }
    visit(target)
    jobs.view.filterKeys(seen).toMap
  }

  /** Kahn topological order; fails on cycles. */
  def topoOrder(jobs: Map[String, JobSpec]): Seq[String] = {
    val indeg = collection.mutable.Map.from(jobs.map { case (n, j) =>
      n -> j.dependencies.count(jobs.contains)
    })
    val queue = collection.mutable.PriorityQueue.empty[String](Ordering[String].reverse)
    indeg.foreach { case (n, d) => if (d == 0) queue.enqueue(n) }
    val order = collection.mutable.ArrayBuffer.empty[String]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      order += n
      jobs.foreach { case (m, j) =>
        if (j.dependencies.contains(n) && jobs.contains(m)) {
          indeg(m) -= 1
          if (indeg(m) == 0) queue.enqueue(m)
        }
      }
    }
    require(order.size == jobs.size,
      s"dependency cycle among: ${jobs.keySet -- order.toSet}")
    order.toSeq
  }

  /** Run the pipeline up to `target`; returns each job's output frame.
    * `save=false` keeps everything in memory (test/chained mode).
    *
    * `persistIntermediates` persists each chained output that more than
    * one downstream job consumes (MEMORY_AND_DISK) and unpersists it as
    * soon as its last consumer has run — without it, Spark's laziness
    * recomputes a shared upstream once per consumer, which at scale means
    * re-reading and re-shuffling the whole lineage (the reference's
    * explicit cache/unpersist policy, yaetos/etl_utils.py:1457-1461, made
    * refcount-precise).
    */
  def runPipeline(spark: SparkSession, jobs: Map[String, JobSpec], target: String,
                  save: Boolean = true, now: String = Etl.defaultNow(),
                  persistIntermediates: Boolean = false):
      Map[String, DataFrame] =
    runImpl(spark, jobs, target, save, now, persistIntermediates,
      meter = None)

  /** Per-stage accounting for a pipeline run: row count and wall seconds
    * per job, in execution order — the drop-rate audit trail a curation
    * pipeline publishes next to its output (how many documents each gate
    * removed). OPT-IN because counting is real work at scale: each stage
    * is persisted (MEMORY_AND_DISK) and materialized by its count, so
    * the count is also the only full computation — downstream stages
    * read the cache rather than recomputing lineage, and intermediates
    * release as their last consumer finishes (the
    * `persistIntermediates` policy, applied to every stage).
    */
  case class StageMetric(job: String, rows: Long, seconds: Double)

  /** [[runPipeline]] with [[StageMetric]] accounting (see there). */
  def runPipelineMetered(spark: SparkSession, jobs: Map[String, JobSpec],
                         target: String, save: Boolean = true,
                         now: String = Etl.defaultNow()):
      (Map[String, DataFrame], Seq[StageMetric]) = {
    val buf = collection.mutable.ArrayBuffer.empty[StageMetric]
    val outs = runImpl(spark, jobs, target, save, now,
      persistIntermediates = true, meter = Some(buf))
    (outs, buf.toSeq)
  }

  private def runImpl(spark: SparkSession, jobs: Map[String, JobSpec],
                      target: String, save: Boolean, now: String,
                      persistIntermediates: Boolean,
                      meter: Option[collection.mutable.ArrayBuffer[StageMetric]]):
      Map[String, DataFrame] = {
    val sub = upstream(jobs, target)
    val order = topoOrder(sub)
    // consumers per job = downstream jobs that actually CHAIN from it —
    // the one rule lives in JobSpec.chainsByName (plus explicit `from:`)
    def chains(j: JobSpec, up: String): Boolean =
      j.chainsByName(up) || j.inputs.values.exists(_.from.contains(up))
    val consumers: Map[String, Int] = sub.keys.map { up =>
      up -> sub.values.count(j => j.name != up && chains(j, up))
    }.toMap
    val remaining = collection.mutable.Map.from(consumers)
    val persisted = collection.mutable.Set.empty[String]
    val done = collection.mutable.Map.empty[String, DataFrame]
    order.foreach { name =>
      val job = sub(name)
      val t0 = System.nanoTime()
      val res = Etl.runJob(spark, job, loadedInputs = done.toMap,
        now = now, save = save)
      // metered runs persist every stage (the count below materializes
      // it); unmetered runs persist only shared upstreams
      val df =
        if (meter.isDefined ||
            (persistIntermediates && consumers.getOrElse(name, 0) > 1)) {
          persisted += name
          res.df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        } else res.df
      meter.foreach { m =>
        val rows = df.count()
        m += StageMetric(name, rows, (System.nanoTime() - t0) / 1e9)
      }
      done(name) = df
      // release upstreams whose last consumer just ran
      sub.keys.filter(up => up != name && chains(job, up))
        .foreach { up =>
          remaining.updateWith(up)(_.map(_ - 1))
          if (remaining.getOrElse(up, 0) <= 0 && persisted.remove(up))
            done(up).unpersist()
        }
    }
    done.toMap
  }
}

/** Multi-region/param-grid meta-runs (reference multi_region_meta_job,
  * jobs/generic/multi_region_meta_job.py:5-24): re-run a pipeline once per
  * param combination, with each combo's params interpolated into every
  * job's datasets (e.g. region-specific paths).
  */
object MultiRun {
  def runGrid(spark: SparkSession, jobs: Map[String, JobSpec], target: String,
              grid: Seq[Map[String, String]], save: Boolean = true,
              now: String = Etl.defaultNow()): Map[Map[String, String], DataFrame] =
    grid.map { combo =>
      val withParams = jobs.map { case (n, j) => n -> j.copy(params = j.params ++ combo) }
      combo -> Flow.runPipeline(spark, withParams, target, save, now)(target)
    }.toMap
}

/** Day-granularity period generation (reference Period_Builder,
  * yaetos/etl_utils.py:775-801): all days from `first` to `until`,
  * inclusive, as ISO strings.
  */
object PeriodBuilder {
  def periods(first: LocalDate, until: LocalDate): Seq[String] =
    Iterator.iterate(first)(_.plusDays(1)).takeWhile(!_.isAfter(until))
      .map(_.toString).toSeq
}

/** Multi-pass incremental driver (reference etl_multi_pass,
  * yaetos/etl_utils.py:97-137): one `Etl.runJob` per period, bounded by
  * `maxPeriods` (the reference's unbounded rerun loop is a documented
  * footgun — SURVEY §7.4).
  */
object MultiPass {
  final case class PassResult(period: String, rows: Long, path: Option[String])

  def run(spark: SparkSession, job: JobSpec, first: LocalDate, until: LocalDate,
          now: String = Etl.defaultNow(), maxPeriods: Int = 1000,
          stopOnEmpty: Boolean = false, save: Boolean = true): Seq[PassResult] = {
    val ps = PeriodBuilder.periods(first, until).take(maxPeriods)
    val out = collection.mutable.ArrayBuffer.empty[PassResult]
    ps.iterator.takeWhile { _ => !stopOnEmpty || out.lastOption.forall(_.rows > 0) }
      .foreach { p =>
        val res = Etl.runJob(spark, job, period = Some(p), now = now, save = save)
        // the count the write observed; recounting res.df recomputes the
        // whole lineage, so only sinks without an observed count pay it
        val rows = res.writtenRows.getOrElse(res.df.count())
        out += PassResult(p, rows, res.writtenPath)
      }
    out.toSeq
  }

  /** Resume after the last already-written increment: probe the prior
    * output's max increment value (reference's previous-output
    * max-timestamp probe, yaetos/etl_utils.py:579-593) and continue from
    * the next day. `defaultFirst` seeds an empty/missing sink. One tiny
    * driver-side action on the existing output — a scheduling decision,
    * not a data path.
    */
  def resume(spark: SparkSession, job: JobSpec, defaultFirst: LocalDate,
             until: LocalDate, now: String = Etl.defaultNow(),
             maxPeriods: Int = 1000, save: Boolean = true): Seq[PassResult] = {
    val out = job.output
      .map(o => graft.core.model.Params.resolve(o, job.params))
      .getOrElse(sys.error(s"job ${job.name} has no output to resume"))
    require(!out.path.contains("{{"),
      s"job ${job.name}: output path has unresolved placeholders: ${out.path}")
    require(Set("parquet", "csv", "json", "text").contains(out.format),
      s"job ${job.name}: resume needs a file sink to probe (got ${out.format}); " +
        "use an explicit --period_first for jdbc sinks")
    val incField = out.incField
      .orElse(job.inputs.values.flatMap(_.incField).headOption)
      .getOrElse(sys.error(s"job ${job.name} is not incremental"))
    // no_schema sinks write inc_* run subfolders; partitioned sinks write
    // straight under the base path — probe the matching layout with the
    // sink's OWN format. A missing sink means "first run"; any other probe
    // failure (wrong format, missing inc column) must fail loudly, or a
    // silent None would duplicate every period on append.
    val sinkPath = new org.apache.hadoop.fs.Path(out.path)
    val fs = sinkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sinkExists = fs.exists(sinkPath)
    val priorPath =
      if (job.incrementalMode == "partitioned") out.path
      else s"${out.path.stripSuffix("/")}/inc_*"
    val hasPrior = sinkExists && (job.incrementalMode == "partitioned" || {
      val matches = fs.globStatus(new org.apache.hadoop.fs.Path(priorPath))
      matches != null && matches.nonEmpty
    })
    // Listing fast path (no_schema): inc_<now>_<period> dir names encode
    // the period, so the max-done probe is ONE metadata listing — a year
    // of accumulated 100 TB increments must not be read back to learn
    // "resume from Tuesday". Any non-day increment name (period "all",
    // streaming batch ids, foreign dirs) falls back to the data probe;
    // partitioned sinks always data-probe (partition values may be full
    // timestamps, URL-encoded in dir names).
    val incDayRe = "^inc_.+_(\\d{4}-\\d{2}-\\d{2})$".r
    val listedDays: Option[Seq[LocalDate]] =
      if (!hasPrior || job.incrementalMode == "partitioned") None
      else {
        val stats = Option(fs.globStatus(new org.apache.hadoop.fs.Path(priorPath)))
          .map(_.toSeq).getOrElse(Seq.empty)
        // A crashed mid-write increment dir exists but holds only
        // uncommitted metadata (_temporary/_SUCCESS/dotfiles — the
        // committer renames real part files in only at job commit).
        // Counting it as done would silently skip the period forever;
        // dirs without a committed data file are treated as not written,
        // exactly like the data probe would.
        def committed(st: org.apache.hadoop.fs.FileStatus): Boolean =
          scala.util.Try(fs.listStatus(st.getPath).exists { f =>
            val n = f.getPath.getName
            f.isFile && !n.startsWith("_") && !n.startsWith(".")
          }).getOrElse(false)
        val parsed = stats.map(st => st.getPath.getName match {
          case incDayRe(d) if committed(st) =>
            scala.util.Try(LocalDate.parse(d)).toOption.map(Some(_))
          case incDayRe(_) => Some(None) // named but uncommitted: skip it
          case _ => None                 // foreign name: fall back to probe
        })
        if (parsed.nonEmpty && parsed.forall(_.isDefined))
          Some(parsed.flatten.flatten)
        else None
      }
    val lastDone: Option[LocalDate] =
      if (!hasPrior) None
      else listedDays match {
        case Some(days) => days.maxOption
        case None =>
          // read the sink back with the options it was WRITTEN with (e.g. a
          // csv separator) layered over any read options
          val prior = graft.core.io.Reader.read(spark,
            out.copy(path = priorPath, glob = None,
              readOptions = out.readOptions ++ out.saveOptions))
          val m = prior.agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.to_date(
              org.apache.spark.sql.functions.col(incField)))).head()
          if (m.isNullAt(0)) None else Some(m.getDate(0).toLocalDate)
      }
    val first = lastDone.map(_.plusDays(1)).getOrElse(defaultFirst)
    if (first.isAfter(until)) Seq.empty
    else run(spark, job, first, until, now, maxPeriods, save = save)
  }
}
