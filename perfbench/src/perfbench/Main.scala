package perfbench

import scala.jdk.CollectionConverters._
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Everything a workload needs: the session, a scratch root of its own, the
  * seed, the tracer of the current phase and the run's micro-batches.
  */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long) {
  var tracer: Tracer = new Tracer(spark, enabled = false)

  /** Every non-empty micro-batch of the run, from the one
    * `StreamingQueryListener` the benchmark registers.
    */
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0)
        batches.add(BatchRec(p.id.toString, ms("triggerExecution"), ms("addBatch")))
    }
  })
  def path(rel: String): String = s"$root/$rel"
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** The timed body of a round, inside the "round" span: (result, seconds). */
  def timed[T](body: => T): (T, Double) = span("round") {
    val t = System.nanoTime()
    val res = body
    (res, (System.nanoTime() - t) / 1e9)
  }
}

final case class Check(name: String, ok: Boolean, detail: String)

/** One round of a workload's fixed work. `steps` are the workload's
  * repeated unit (period pass, shard pipeline, micro-batch) in seconds;
  * `extra` carries workload-specific samples (query latencies, …).
  */
final case class Round(wall: Double, items: Long, itemSeconds: Double, steps: Seq[Double],
                       attempted: Int, checks: Seq[Check],
                       extra: Map[String, Seq[Double]] = Map.empty,
                       oracle: Seq[Map[String, String]] = Nil)

trait Workload {
  /** Generate the inputs under `ctx.root/in`; returns their bytes on disk. */
  def prepare(ctx: Ctx): Long
  /** One-time set-up after the inputs exist (e.g. building persisted
    * state); returns per-layer timings of that set-up.
    */
  def open(ctx: Ctx): Map[String, Double] = Map.empty
  /** Untimed warm-up rounds before the measured ones: enough for the JIT to
    * compile the workload's driver-side code paths.
    */
  def warmups: Int = 1
  /** Run round `r`; rounds below `warmups` are untimed warm-up rounds. */
  def round(ctx: Ctx, r: Int): Round
  /** Metrics of this workload's own layers from a traced phase. */
  def layerMetrics(ctx: Ctx, t: Tracer, rounds: Seq[Round]): Map[String, Double] = Map.empty
}

/** Benchmark entry point: one JVM, one workload, closed loop (one call at a
  * time). Writes its full result as JSON to `--out`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --root <scratch dir> --out <result json>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val root = args("root")
    val cores = Runtime.getRuntime.availableProcessors()

    val w: Workload = workload match {
      case "etl_incremental" => new EtlIncremental
      case "llm_curate" => new LlmCurate
      case "index_ingest" => new IndexIngest
      case other => sys.error(s"unknown workload $other")
    }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$root/stream-ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftSession.tune(spark)
    val ctx = new Ctx(spark, root, seed)
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val sessionSecs = jvm.getUptime / 1e3

    val out = new Json
    var failed = 0
    var attempted = 0
    val errors = collection.mutable.ArrayBuffer.empty[String]
    val checks = collection.mutable.ArrayBuffer.empty[Check]
    val oracle = collection.mutable.ArrayBuffer.empty[Map[String, String]]

    def runRound(r: Int): Option[Round] =
      try {
        val res = w.round(ctx, r)
        Main.log(f"round $r: ${res.wall}%.2f s, steps ${res.steps.map(s => f"$s%.2f").mkString(" ")}")
        attempted += res.attempted
        failed += res.checks.count(!_.ok)
        checks ++= res.checks
        oracle ++= res.oracle
        Some(res)
      } catch {
        case e: Throwable =>
          attempted += 1
          failed += 1
          errors += s"round $r: ${e.getClass.getSimpleName}: ${e.getMessage}".take(600)
          System.err.println(s"[perfbench] round $r failed")
          e.printStackTrace()
          None
      }

    // set-up: session, inputs, persisted state and the warm-up rounds; setup_s
    // is the wall time from JVM start to the first measured round
    val tGen = System.nanoTime()
    val inputBytes = w.prepare(ctx)
    val genSecs = (System.nanoTime() - tGen) / 1e9
    val tOpen = System.nanoTime()
    val opened = w.open(ctx)
    val openSecs = (System.nanoTime() - tOpen) / 1e9
    val tWarm = System.nanoTime()
    val warm = (0 until w.warmups).map(runRound)
    val warmSecs = (System.nanoTime() - tWarm) / 1e9
    val setupSecs = jvm.getUptime / 1e3

    def phase(budget: Double, first: Int): Seq[Round] = {
      val rounds = collection.mutable.ArrayBuffer.empty[Round]
      var r = first
      var spent = 0.0
      // at least one good round (three attempts), then until the timed
      // bodies have taken the budget
      while (rounds.isEmpty && r < first + 3 || rounds.nonEmpty && spent < budget) {
        runRound(r).foreach { res => rounds += res; spent += res.wall }
        r += 1
      }
      rounds.toSeq
    }

    val plain = phase(if (trace) seconds / 2 else seconds, w.warmups)
    out.put("workload", workload).put("seed", seed).put("trace", trace)
      .put("cores", cores).put("input_bytes", inputBytes)
      .put("setup", Map("session_s" -> sessionSecs, "gen_s" -> genSecs,
        "open_s" -> openSecs, "warmup_s" -> warmSecs, "setup_s" -> setupSecs))
    out.put("rounds", plain.map(roundJson))

    val steps = plain.flatMap(_.steps)
    val runS = Stats.median(plain.map(_.wall))
    val itemsPerS = Stats.median(plain.map(r => r.items / r.itemSeconds))
    val (tailQ, tail) = Stats.tail(steps)
    out.put("end_to_end", collection.immutable.ListMap(
      "setup_s" -> setupSecs,
      "run_s" -> runS,
      "items_per_s" -> itemsPerS,
      "step_p50_s" -> Stats.median(steps),
      "step_tail_s" -> tail,
      "peak_rss_mb" -> Stats.peakRssMb()))
    out.put("step_tail_percentile", tailQ).put("step_n", steps.size)

    if (trace) {
      val t = new Tracer(spark, enabled = true)
      t.install()
      ctx.tracer = t
      t.drain()
      val batchMark = ctx.batches.size
      val traced = phase(seconds / 2, w.warmups + plain.size)
      t.drain()
      Main.log("traced phase done")
      val tracedBatches = ctx.batches.asScala.toSeq.drop(batchMark)
      val layers = Layers.common(t, traced, cores, inputBytes, tracedBatches) ++
        w.layerMetrics(ctx, t, traced) ++ opened ++
        Map("trace.overhead_s" -> (Stats.median(traced.map(_.wall)) - runS),
          "trace.rounds" -> traced.size.toDouble) ++
        Micro.run(ctx)
      // workload samples that are not a tracing artefact come from the
      // untraced phase of the same run
      val plainExtra = plain.flatMap(_.extra.toSeq).groupMap(_._1)(_._2).map {
        case (k, v) => k -> v.flatten }
      val all = layers ++ Layers.extra(plainExtra)
      out.put("per_layer", collection.immutable.ListMap(Layers.units.map { case (k, _) =>
        k -> all(k) }: _*))
      out.put("per_layer_units", Layers.units.toMap)
      out.put("traced_rounds", traced.map(roundJson))
      out.put("job_sites", Layers.jobSites(t))
      out.put("spans", t.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_s" -> (s.start - t.spans.head.start) / 1e9,
        "seconds" -> s.seconds, "self_s" -> Layers.selfSeconds(t, s))))
    }
    out.put("attempted", attempted).put("failed", failed)
      .put("checks", checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))
      .put("errors", errors.toSeq).put("oracle", oracle.toSeq)
      .put("warmup_ok", warm.forall(_.isDefined))
    Main.log("done")
    java.nio.file.Files.write(java.nio.file.Paths.get(args("out")),
      out.render.getBytes("UTF-8"))
    spark.stop()
    Main.log("stopped")
  }

  def log(msg: String): Unit = System.err.println(f"[perfbench ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s] $msg")

  private def roundJson(r: Round): Map[String, Any] =
    Map("wall_s" -> r.wall, "items" -> r.items, "item_s" -> r.itemSeconds,
      "steps_s" -> r.steps, "extra" -> r.extra)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it (nearest
    * rank), as (percentile, value); the maximum when there are at most ten.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else if (xs.size <= 10) (100.0, xs.max)
    else {
      val s = xs.sorted
      val idx = s.size - 11
      (100.0 * (idx + 1) / s.size, s(idx))
    }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** The result file: fields in insertion order, written as JSON. */
final class Json {
  private val fields = collection.mutable.LinkedHashMap.empty[String, Any]
  def put(k: String, v: Any): Json = { fields(k) = v; this }
  def render: String = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    .writeValueAsString(fields)
}
