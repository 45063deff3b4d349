package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.model.{JobSpec, Params}

/** YAML-declared STREAMING jobs: the same manifest entry that describes a
  * batch job (inputs → SQL/class transform → incremental output) runs as
  * a Structured Streaming pipeline — file-source micro-batches through
  * the job's transform into per-batch increments
  * ([[graft.streaming.Streams.writeIncrements]]), with the output's
  * `stats_manifest` ticked per batch like any other write. The reference
  * has no streaming at all (Kafka is a push-only sink,
  * yaetos/kafka_utils.py); here the SAME declarative job graduates from
  * cron cadence to continuous without a rewrite — the q133/q183 lanes'
  * operability story completed at the manifest level.
  *
  * Scope rules, enforced loudly:
  *  - exactly ONE input, a file-source format (parquet/csv/json/text) —
  *    except `stream_lane: join`, the one TWO-input shape, which routes
  *    through [[graft.streaming.Streams.streamJoin]] with explicit
  *    watermark + event-time bounds (never a silent unbounded-state SQL
  *    join);
  *  - the transform must be stream-safe (projections/filters/row-local
  *    functions — Spark rejects unsupported shapes at `start()`, which
  *    propagates);
  *  - the output must be incremental or partitioned (the
  *    [[graft.streaming.Streams.writeIncrements]] contract) — unless a
  *    `stream_lane` param routes the stream into one of the engine's
  *    stateful sink lanes (psi_drift/ks_drift/psi_by_group/ks_by_group/
  *    neardup/token_neardup/reservoir), making the drift monitors,
  *    near-dup ingest, and weighted reservoir manifest-declarable with
  *    the output path as the lane's partials/accepted sink.
  *
  * The input's schema comes from a one-time batch probe of the files
  * already at the path (streaming sources cannot infer) — a streaming
  * job therefore starts against a NON-EMPTY directory, the same contract
  * as every persisted-index ingest lane.
  *
  * `runOnce` is the cadence-friendly drain (process everything
  * available, then stop): idempotent under crash-replay via the
  * delete-first increment contract, so a scheduler can invoke it exactly
  * like a batch period pass — Trigger.AvailableNow semantics with the
  * engine's own replay guarantees.
  */
object StreamRun {

  /** Start the streaming query for a YAML job. Caller owns the returned
    * handle (stop/await).
    */
  def start(spark: SparkSession, job: JobSpec, checkpoint: String,
            now: String): StreamingQuery = {
    // the join lane is the one TWO-input streaming shape; every other
    // lane transforms a single stream
    if (job.params.get("stream_lane").contains("join"))
      return startJoin(spark, job, checkpoint, now)
    require(job.inputs.size == 1,
      s"streaming job ${job.name} needs exactly one input, got " +
        s"${job.inputs.keys.mkString(",")} (two-input streaming joins " +
        "declare stream_lane: join)")
    val (name, ds0) = job.inputs.head
    val ds = Params.resolve(ds0, job.params)
      .copy(path = graft.core.io.PathTemplating.expandNow(
        Params.resolve(ds0, job.params).path, now))
    require(Seq("parquet", "csv", "json", "text").contains(ds.format),
      s"streaming job ${job.name}: unsupported stream source ${ds.format}")
    // one-time schema probe: streaming file sources cannot infer
    val schema = graft.core.io.Reader.read(spark, ds, period = None).schema
    val stream = graft.streaming.Streams.readFileStream(spark, ds,
      schema.toDDL)
    stream.createOrReplaceTempView(name)
    val out: DataFrame = Etl.transformOf(job)
      .transform(Map(name -> stream), spark, job.params)
    val o = job.output.map(x => Params.resolve(x, job.params)).getOrElse(
      sys.error(s"streaming job ${job.name} needs an output"))
    val outPath = graft.core.io.PathTemplating.expandNow(o.path, now)
    def p(k: String): String = job.params.getOrElse(k,
      sys.error(s"streaming job ${job.name}: lane " +
        s"'${job.params("stream_lane")}' needs param '$k'"))
    // a drift lane's slice column: required by the `*_by_group` lanes,
    // optional on the others
    def groupOf(lane: String): Option[String] =
      if (lane.endsWith("_by_group")) Some(p("group_col"))
      else job.params.get("group_col")
    // `stream_lane` dispatches the transformed stream into one of the
    // engine's stateful sink lanes instead of plain increments — the
    // whole streaming surface (drift monitors, near-dup ingest, the
    // weighted reservoir) becomes manifest-declarable. The output path
    // is the lane's partials/accepted sink; each lane keeps its own
    // replay contract (delete-first batch dirs, idempotent appends).
    job.params.get("stream_lane") match {
      case None =>
        graft.streaming.Streams.writeIncrements(out, job, o, checkpoint, now)
      // the stored reference decides scalar vs per-group; PSI edges
      // load once per drain, never per micro-batch
      case Some(lane @ ("psi_drift" | "psi_by_group")) =>
        val edges = graft.ops.Stats.loadPsiEdges(spark, p("ref"))
        val (v, g) = (p("value_col"), groupOf(lane))
        graft.streaming.Streams.partialsSink(out, outPath, checkpoint)(
          graft.ops.Stats.psiCurrentPartial(_, v, edges, g))
      case Some(lane @ ("ks_drift" | "ks_by_group")) =>
        val (v, g) = (p("value_col"), groupOf(lane))
        graft.streaming.Streams.partialsSink(out, outPath, checkpoint)(
          graft.ops.Stats.ksCurrentPartial(_, v, g))
      // the index decides the grain: `token_neardup` is kept as an
      // alias so existing manifests still run
      case Some("neardup") | Some("token_neardup") =>
        graft.streaming.Streams.nearDupSink(out, p("index"), p("id_col"),
          p("text_col"), p("threshold").toDouble,
          job.params.get("max_band_freq").map(_.toInt), outPath,
          checkpoint, job.params.get("clusters_path"))
      case Some("dedup") =>
        // watermarked exactly-once key dedup, then plain increments:
        // the q74 stateful lane composed with the increment landing —
        // a YAML-declared streaming dedup pipeline
        val deduped = graft.streaming.Streams.dedupStream(out,
          p("ts_col"), p("keys").split(",").map(_.trim).toSeq,
          p("watermark"))
        graft.streaming.Streams.writeIncrements(deduped, job, o,
          checkpoint, now)
      case Some("reservoir") =>
        val (id, g, w, n) =
          (p("id_col"), p("group_col"), p("weight_col"), p("n").toInt)
        val salt = job.params.getOrElse("salt", "es")
        graft.streaming.Streams.partialsSink(out, outPath, checkpoint)(
          graft.ops.Sampling.reservoirPartial(_, id, g, w, n, salt))
      case Some("bm25_ingest") =>
        graft.streaming.Streams.bm25IngestSink(out, p("index"),
          p("id_col"), p("text_col"), outPath, checkpoint)
      case Some("pq_ingest") =>
        graft.streaming.Streams.pqIngestSink(out, p("index_dir"),
          outPath, checkpoint)
      case Some(other) => sys.error(
        s"streaming job ${job.name}: unknown stream_lane '$other' — " +
          "one of psi_drift|ks_drift|psi_by_group|ks_by_group|" +
          "neardup|token_neardup|reservoir|dedup|join|bm25_ingest|" +
          "pq_ingest, or omit for increments")
    }
  }

  /** `stream_lane: join` — the manifest-declarable WATERMARKED
    * stream-stream inner join ([[graft.streaming.Streams.streamJoin]]):
    * exactly TWO file-source inputs; `left` names which input is the
    * left side; `key`/`left_ts`/`right_ts` the join columns (each side's
    * feed carries its own column names — pre-shape the feeds when both
    * sides share names, exactly as a batch join would need);
    * `watermark`/`within` bound the join state so it expires instead of
    * growing with the stream. The joined rows land as per-batch
    * increments under the job's incremental output — closing the one
    * asymmetry between the batch and streaming YAML surfaces (every
    * batch job family could already declare a join; now the streaming
    * surface can too).
    */
  private def startJoin(spark: SparkSession, job: JobSpec,
                        checkpoint: String, now: String): StreamingQuery = {
    require(job.inputs.size == 2,
      s"streaming job ${job.name}: stream_lane join needs exactly two " +
        s"inputs, got ${job.inputs.keys.mkString(",")}")
    def p(k: String): String = job.params.getOrElse(k,
      sys.error(s"streaming job ${job.name}: lane 'join' needs param '$k'"))
    val leftName = p("left")
    require(job.inputs.contains(leftName),
      s"streaming job ${job.name}: param left='$leftName' names no input " +
        s"of ${job.inputs.keys.mkString(",")}")
    val rightName = (job.inputs.keySet - leftName).head
    def side(name: String): DataFrame = {
      val ds = Params.resolve(job.inputs(name), job.params)
        .copy(path = graft.core.io.PathTemplating.expandNow(
          Params.resolve(job.inputs(name), job.params).path, now))
      require(Seq("parquet", "csv", "json", "text").contains(ds.format),
        s"streaming job ${job.name}: unsupported stream source ${ds.format}")
      val schema = graft.core.io.Reader.read(spark, ds, period = None).schema
      graft.streaming.Streams.readFileStream(spark, ds, schema.toDDL)
    }
    val joined = graft.streaming.Streams.streamJoin(
      side(leftName), side(rightName), key = p("key"),
      leftTs = p("left_ts"), rightTs = p("right_ts"),
      watermarkDelay = p("watermark"), within = p("within"))
    val o = job.output.map(x => Params.resolve(x, job.params)).getOrElse(
      sys.error(s"streaming job ${job.name} needs an output"))
    graft.streaming.Streams.writeIncrements(joined, job, o, checkpoint, now)
  }

  /** Drain-and-stop: process every file currently at the source, then
    * stop — the run-once mode a scheduler drives on a cadence. Returns
    * the number of micro-batches THIS drain committed — measured as the
    * max-committed-batch-id delta in the checkpoint's `commits` log, NOT
    * `lastProgress.batchId` (cumulative across checkpoint restarts: a
    * second drain on an existing checkpoint would otherwise report the
    * lifetime count). Exact under every edge the progress stream blurs:
    * idle ticks commit nothing, zero-row batches (an empty new file)
    * commit, and a replayed uncommitted batch commits here — it ran here.
    */
  def runOnce(spark: SparkSession, job: JobSpec, checkpoint: String,
              now: String): Long = {
    val before = maxCommittedBatch(spark, checkpoint)
    val q = start(spark, job, checkpoint, now)
    try {
      q.processAllAvailable()
      maxCommittedBatch(spark, checkpoint) - before
    } finally q.stop()
  }

  /** Highest batch id in the checkpoint's commit log, -1 when none.
    * Commit-log entries are plain integer file names (one per committed
    * micro-batch; the commit log never compacts — only source/sink file
    * logs do), so the max id is the lifetime committed-batch count - 1
    * even after `minBatchesToRetain` purges old entries.
    */
  private def maxCommittedBatch(spark: SparkSession,
                                checkpoint: String): Long = {
    val dir = new org.apache.hadoop.fs.Path(checkpoint, "commits")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .filter(_.forall(_.isDigit))
      .foldLeft(-1L)((m, n) => math.max(m, n.toLong))
  }
}
