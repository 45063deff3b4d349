package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.core.io.{CrashSeam, DirSwap, Writer}
import graft.core.model.{DatasetSpec, JobSpec}

/** Structured Streaming surface. The reference has no stream consumer
  * (Kafka is a push-only sink, reference yaetos/kafka_utils.py) — this
  * module is the Spark-native extension of its incremental jobs: the same
  * day-granularity batch increments, re-expressed as continuous streams
  * with watermarks and stateful operators.
  */
object Streams {

  /** Run `body` with `spark.sql.shuffle.partitions` set to `n`,
    * restoring the prior value after. A stateful streaming query creates
    * one state store per shuffle partition PER stateful operator, and
    * the count is frozen into the checkpoint at first start — so size it
    * to the expected state-key cardinality (join keys, open sessions),
    * not the batch shuffle width: a 100 TB batch job wants wide
    * shuffles, but a stream with bounded state only multiplies
    * state-store open/commit overhead per micro-batch by oversizing
    * (measured 2.2× end-to-end on the stream-stream join fixture going
    * 32 → 8).
    *
    * NOT thread-safe: the conf is session-global, so any query started
    * concurrently on the same SparkSession inside the block (or a nested
    * use with a different `n`) picks up or clobbers the wrong value.
    * Start streams from one thread, or give concurrent workloads their
    * own `spark.newSession()` (per-session conf, shared catalog/state).
    */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    require(n >= 1, s"state partitions must be >= 1, got $n")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** File-source stream over the same DatasetSpec formats as the batch
    * Reader (schema required — streaming reads can't infer).
    */
  def readFileStream(spark: SparkSession, ds: DatasetSpec, schemaDdl: String): DataFrame = {
    // defaults first, user readOptions second so they can override (same
    // precedence as the batch Reader)
    val reader = spark.readStream.schema(schemaDdl)
    ds.format match {
      case "csv" => reader.option("header", "true").options(ds.readOptions).csv(ds.path)
      case "json" => reader.options(ds.readOptions).json(ds.path)
      case "parquet" => reader.options(ds.readOptions).parquet(ds.path)
      case "text" => reader.options(ds.readOptions).text(ds.path)
      case other => sys.error(s"unsupported stream source format: $other")
    }
  }

  /** Streaming JSONL ingestion with the quarantine lane: the EXACT
    * row-local classification of [[graft.core.io.Reader
    * .readJsonQuarantine]] over an unbounded text file source — corrupt
    * lines flow to `bad` (raw line + source file) while parsed rows flow
    * to `good`, each a streaming frame for its own sink. Stateless, so
    * watermarks/state never enter the picture and batch == stream is a
    * code identity, not a re-implementation (q133 pins it behind the
    * hash gate anyway).
    */
  def quarantineJsonStream(spark: SparkSession, path: String,
                           schemaDdl: String)
      : graft.core.io.Reader.Quarantined =
    graft.core.io.Reader.quarantineSplit(
      spark.readStream.schema("value STRING").text(path), schemaDdl)

  /** [[quarantineJsonStream]] for strict headerless CSV
    * ([[graft.core.io.Reader.readCsvQuarantine]] semantics).
    */
  def quarantineCsvStream(spark: SparkSession, path: String,
                          schemaDdl: String)
      : graft.core.io.Reader.Quarantined =
    graft.core.io.Reader.quarantineSplit(
      spark.readStream.schema("value STRING").text(path), schemaDdl,
      isJson = false)

  /** Watermarked sliding-window aggregation: counts + sum per
    * (window, key). Late rows beyond `watermarkDelay` are dropped and
    * their state reclaimed — the property that keeps state bounded on an
    * unbounded stream.
    */
  def windowedAgg(df: DataFrame, tsCol: String, keyCol: String,
                  watermarkDelay: String, windowDur: String,
                  slide: Option[String] = None,
                  valueCol: String = "value"): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), windowDur, s)
      case None => window(col(tsCol), windowDur)
    }
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(win.as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col(keyCol), col("n"), col("sum_value"))
  }

  /** Streaming dedup on a key within the watermark horizon — the streaming
    * twin of exact batch dedup (state bounded by the watermark).
    */
  def dedupStream(df: DataFrame, tsCol: String, keys: Seq[String],
                  watermarkDelay: String): DataFrame = {
    require(keys.nonEmpty, "dedupStream needs at least one key column")
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
  }

  /** Watermarked stream-stream inner join: right rows match left rows of
    * the same key within `[leftTs - within, leftTs]`. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire join state — without the bound, stream-stream join
    * state grows forever.
    */
  def streamJoin(left: DataFrame, right: DataFrame, key: String,
                 leftTs: String, rightTs: String,
                 watermarkDelay: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r,
        l(key) === r(key) &&
          r(rightTs) >= l(leftTs) - expr(s"INTERVAL $within") &&
          r(rightTs) <= l(leftTs))
      .drop(r(key))
  }

  /** foreachBatch bridge into the batch Writer: each micro-batch lands as
    * one increment through the same sink code as batch jobs (path
    * suffixing, partitioning). Requires an incremental job — otherwise
    * the Writer's error-if-exists mode would kill the stream on the
    * second batch.
    *
    * Replay safety: Spark re-runs a micro-batch when the query fails (or
    * restarts) after the write but before the checkpoint commit. For
    * `no_schema` increments the target `inc_<now>_batch<id>` dir is a
    * pure function of the batch id, so the bridge DELETES it before
    * writing — a replay rewrites the same increment instead of appending
    * a duplicate copy (pass the SAME `now` when restarting against the
    * same checkpoint, or stale-now increments survive as duplicates).
    * `partitioned` mode appends into shared partition dirs, where no
    * per-batch scope exists to delete — that mode is at-least-once on
    * replay; downstream consumers needing exactly-once should dedup on a
    * key or consume `no_schema` increments.
    */
  def writeIncrements(stream: DataFrame, job: JobSpec, out: DatasetSpec,
                      checkpoint: String, now: String): StreamingQuery = {
    require(job.isIncremental || job.partitionBy.nonEmpty,
      s"writeIncrements needs an incremental or partitioned job " +
        s"(${job.name} would error-if-exists on the second micro-batch)")
    batchSink(stream, checkpoint) { (batch, id) =>
      writeIncrement(batch, job, out, now, id): Unit
    }
  }

  /** One micro-batch's write — the foreachBatch body, separated so the
    * replay contract is directly testable: calling it twice with the same
    * batch id leaves exactly one copy of a `no_schema` increment.
    */
  def writeIncrement(batch: DataFrame, job: JobSpec, out: DatasetSpec,
                     now: String, id: Long): Writer.Written = {
    val period = Some(s"batch$id")
    if (job.isIncremental && job.incrementalMode == "no_schema") {
      // Writer.targetPath is the ONE definition of the increment layout —
      // deleting a hand-derived name here would silently stop matching if
      // the layout changed, and replays would duplicate again
      val p = new org.apache.hadoop.fs.Path(
        Writer.targetPath(job, out, now, period))
      val fs = p.getFileSystem(
        batch.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) { fs.delete(p, true); () }
    }
    val written = Writer.write(batch, job, out, now, period)
    // write-path skipping maintenance, streaming twin of the batch
    // Etl hook: each micro-batch ticks the sink's stats manifest
    // (first batch builds, later batches delta-refresh). Replay safe:
    // a replayed batch deletes its increment dir first, so the append
    // tick drops the vanished files' rows and profiles the rewrites —
    // the manifest converges to the on-disk file set either way.
    out.statsManifest.foreach { mf =>
      require(out.format == "parquet",
        s"stats_manifest needs a parquet sink, got ${out.format}")
      graft.core.io.Skipping.maintainManifest(batch.sparkSession,
        graft.core.io.PathTemplating.expandNow(out.path, now),
        graft.core.io.PathTemplating.expandNow(mf, now),
        out.statsCols): Unit
    }
    written
  }

  /** Continuous mergeable-partials monitoring: each micro-batch
    * contracts to `partial(batch)` and lands as one parquet increment
    * at `partialsPath/batch<id>` — the mergeable-partials discipline
    * made continuous. The monitor's CURRENT answer at any point is the
    * matching merge over the accumulated partials (order-free integer
    * sums or an associative top-n, so reading them in any state of the
    * stream is consistent), bit-identical to a batch recompute over
    * everything streamed so far:
    *  - PSI drift: `Stats.psiCurrentPartial(_, valueCol, edges,
    *    groupCol)`, scored by [[graft.ops.Stats.psiFromPartials]];
    *  - KS drift: `Stats.ksCurrentPartial(_, valueCol, groupCol)`,
    *    scored by [[graft.ops.Stats.ksFromPartials]];
    *  - weighted reservoir: `Sampling.reservoirPartial(_, …)`, folded
    *    by [[loadReservoir]].
    * The partial must be a pure function of the batch: a PSI monitor
    * loads its reference edges ONCE per drain
    * ([[graft.ops.Stats.loadPsiEdges]]) and captures them in `partial`,
    * so no micro-batch re-reads the reference; the reference corpus is
    * never read after its one-time profile write.
    *
    * Replay safe: the per-batch dir is a pure function of the batch id
    * and is deleted before write (the [[writeIncrement]] contract), so
    * a crash between write and checkpoint commit re-lands the same
    * partial instead of double-counting it.
    */
  def partialsSink(stream: DataFrame, partialsPath: String,
                   checkpoint: String)
                  (partial: DataFrame => DataFrame): StreamingQuery =
    batchSink(stream, checkpoint) { (batch, id) =>
      applyPartialsBatch(batch, partialsPath, id)(partial)
    }

  /** One micro-batch of [[partialsSink]] — separated so the replay
    * contract is directly testable: applying the same batch twice
    * leaves one copy.
    */
  def applyPartialsBatch(batch: DataFrame, partialsPath: String, id: Long)
                        (partial: DataFrame => DataFrame): Unit =
    landBatch(batch.sparkSession, s"$partialsPath/batch$id")(partial(batch))

  /** The current reservoir: per-group top-n over the accumulated batch
    * partials ([[graft.ops.Sampling.reservoirMerge]]), with the same
    * `rank` column the batch sampler emits.
    */
  def loadReservoir(spark: SparkSession, partialsPath: String, idCol: String,
                    groupCol: String, n: Int): DataFrame =
    graft.ops.Sampling.reservoirMerge(
      spark.read.parquet(s"$partialsPath/batch*"), idCol, groupCol, n)

  /** Continuous near-dup ingest through a PERSISTED index
    * ([[graft.ops.Dedup.writeNearDupIndex]]): each micro-batch collapses
    * its own near-dup clusters, drops rows near-duplicating the corpus,
    * appends the survivors' index entries (so the NEXT batch sees them),
    * and lands the accepted rows as one parquet increment per batch id —
    * the q86 steady-state ingest, applied continuously.
    *
    * The grain is the index's own ([[graft.ops.Dedup.loadNearDupIndex]]):
    * through a BPE-piece index each micro-batch encodes ONLY itself under
    * the index's STORED merge table — q209's tokenizer-grain ingest made
    * continuous (q222), per-batch cost tracking the batch, never the
    * corpus. Both manifest lanes, `neardup` and `token_neardup`, run
    * this sink.
    *
    * Replay safe end to end: (1) the index append is idempotent per table
    * (anti-join vs existing ids, `appendToNearDupIndex`); (2) pairing
    * runs with `excludeSelfIds = true`, so a batch replayed after a crash
    * between append and checkpoint commit does NOT drop against its own
    * first-run index entries — the recomputed accepted set is identical;
    * (3) the per-batch increment dir is a pure function of the batch id
    * and is deleted before write, so a replay rewrites the same rows
    * instead of duplicating them. Requires ids unique across the stream
    * (the standard ingest contract).
    *
    * Per-batch cost is one pass over the index (each of `_shingles` and
    * `_buckets` is scanned once) plus driver work bounded by
    * `spark.graft.cc.localEdgeLimit`: the batch's edges are collected
    * once, and its components and cluster labels are folded on the
    * driver. A batch with more edges than the limit takes the
    * distributed path.
    *
    * High-water mark, a SINGLE-WRITER contract: before any append the
    * sink stamps the batch id under `checkpoint`, and a batch above the
    * mark skips the append probes whose cost scales with the index.
    * That skip is sound only while ids are unique across the stream and
    * no other writer appends ids this stream also carries. Set
    * `spark.graft.stream.ingestHwmEnabled=false` when another query or
    * job appends to the same index, or when previously ingested ids are
    * re-streamed through a fresh checkpoint.
    */
  def nearDupSink(stream: DataFrame, indexName: String, idCol: String,
                  textCol: String, threshold: Double,
                  maxBandFreq: Option[Int], acceptedPath: String,
                  checkpoint: String,
                  clustersPath: Option[String] = None): StreamingQuery =
    ingestSink(stream, checkpoint) { (batch, id, fresh) =>
      applyNearDupBatch(batch, indexName, idCol, textCol,
        threshold, maxBandFreq, acceptedPath, id, clustersPath, fresh)
    }

  /** One micro-batch's near-dup ingest — separated so the replay contract
    * is directly testable: applying the same batch twice leaves the same
    * accepted increment, the same index, and the same clusters table.
    *
    * Cost: one pass over the index tables plus driver work bounded by
    * `spark.graft.cc.localEdgeLimit` — the batch's within-batch and
    * batch-to-index edges are collected once, and the drop set, the hit
    * ids, the pair set and the cluster fold all derive from them.
    *
    * `clustersPath`: maintain a persisted `(id, comp)` cluster table —
    * every streamed id labeled with its component under the DISCOVERED
    * edge set (within-batch pairs plus batch-to-indexed-corpus pairs),
    * folded per batch over only the components those pairs touch and
    * landed as one `inc_b<id>` delta (see [[landAcceptedAndClusters]]).
    * The fold equals a full [[graft.ops.Dedup.connectedComponents]]
    * recompute over every discovered edge (min-label preservation —
    * RandomizedInvariantsSpec), and REPLAY-IDEMPOTENT: a replayed batch
    * recomputes the same pairs (excludeSelfIds keeps its own first-run
    * index entries out of the corpus side) and re-folding already-merged
    * edges into star labels is a no-op. Note the contract is the
    * discovered edges: an edge between two DROPPED documents of
    * different batches is not observed (a dropped doc never enters the
    * index) — its endpoints still label into the corpus components that
    * dropped them.
    */
  def applyNearDupBatch(batch: DataFrame, indexName: String, idCol: String,
                        textCol: String, threshold: Double,
                        maxBandFreq: Option[Int], acceptedPath: String,
                        id: Long, clustersPath: Option[String] = None,
                        assumeFresh: Boolean = false): Unit = {
    val (accepted, pairs) = graft.ops.Dedup.ingestNearDupWithPairs(
      graft.ops.Dedup.loadNearDupIndex(batch.sparkSession, indexName), batch,
      idCol, textCol, threshold, maxBandFreq, excludeSelfIds = true,
      assumeFresh = assumeFresh, withPairs = clustersPath.isDefined)
    landAcceptedAndClusters(batch, idCol, accepted, pairs, acceptedPath,
      id, clustersPath)
  }

  /** Streaming BM25 index maintenance: each micro-batch appends into the
    * persisted inverted index through
    * [[graft.ops.Search.appendBm25Index]] — postings and doclens append
    * into the bucketed layout (never a rewrite of existing files), the
    * one-row stats table refreshes by exact recount. The append is
    * AT-LEAST-ONCE idempotent (per-table anti-join on doc ids + staged
    * meta swap), which is exactly the foreachBatch replay contract: a
    * crashed batch is repaired by Spark re-running it. `ingestedPath`
    * lands each batch's doc ids as a delete-first `batch<id>` increment
    * — the lane's observable output (what got indexed, when).
    *
    * High-water mark, a SINGLE-WRITER contract: before any append the
    * sink stamps the batch id under `checkpoint`, and a batch above the
    * mark skips the append probes whose cost scales with the index.
    * That skip is sound only while ids are unique across the stream and
    * no other writer appends ids this stream also carries. Set
    * `spark.graft.stream.ingestHwmEnabled=false` when another query or
    * job appends to the same index, or when previously ingested ids are
    * re-streamed through a fresh checkpoint.
    */
  def bm25IngestSink(stream: DataFrame, indexName: String, idCol: String,
                     textCol: String, ingestedPath: String,
                     checkpoint: String): StreamingQuery =
    ingestSink(stream, checkpoint) { (batch, id, fresh) =>
      applyBm25IngestBatch(batch, indexName, idCol, textCol,
        ingestedPath, id, fresh)
    }

  /** One micro-batch's BM25 ingest — separated so the replay contract is
    * directly testable (re-applying a batch leaves the index and the
    * increment unchanged).
    */
  def applyBm25IngestBatch(batch: DataFrame, indexName: String,
                           idCol: String, textCol: String,
                           ingestedPath: String, id: Long,
                           assumeFresh: Boolean = false): Unit = {
    val idx = graft.ops.Search.loadBm25Index(batch.sparkSession, indexName)
    graft.ops.Search.appendBm25Index(batch, idCol, textCol, idx, assumeFresh)
    landBatch(batch.sparkSession, s"$ingestedPath/batch$id")(
      batch.select(col(idCol)).distinct())
  }

  /** Streaming IVF-PQ index maintenance: each micro-batch of
    * `(vec_id, embedding)` rows encodes with the STORED codebook and
    * assigns with the STORED centroids via
    * [[graft.ops.Pq.appendPqIndex]] (appends never retrain — mixed
    * codebooks would corrupt ADC), appending into the cell-partitioned
    * codes layout. Same at-least-once replay contract and delete-first
    * `ingestedPath` increments as [[bm25IngestSink]].
    *
    * High-water mark, a SINGLE-WRITER contract: before any append the
    * sink stamps the batch id under `checkpoint`, and a batch above the
    * mark skips the append probes whose cost scales with the index.
    * That skip is sound only while ids are unique across the stream and
    * no other writer appends ids this stream also carries. Set
    * `spark.graft.stream.ingestHwmEnabled=false` when another query or
    * job appends to the same index, or when previously ingested ids are
    * re-streamed through a fresh checkpoint.
    */
  def pqIngestSink(stream: DataFrame, indexDir: String,
                   ingestedPath: String, checkpoint: String)
      : StreamingQuery =
    ingestSink(stream, checkpoint) { (batch, id, fresh) =>
      applyPqIngestBatch(batch, indexDir, ingestedPath, id, fresh)
    }

  /** One micro-batch's PQ ingest — see [[applyBm25IngestBatch]]. */
  def applyPqIngestBatch(batch: DataFrame, indexDir: String,
                         ingestedPath: String, id: Long,
                         assumeFresh: Boolean = false): Unit = {
    graft.ops.Pq.appendPqIndex(batch.sparkSession, indexDir, batch, assumeFresh)
    landBatch(batch.sparkSession, s"$ingestedPath/batch$id")(
      batch.select(col("vec_id")).distinct())
  }

  /** Happy-path freshness gate for the ingest lanes' per-batch append
    * probes: a high-water mark file under the CHECKPOINT records the
    * largest batch id that may have (even partially) started an index
    * append. The mark is written BEFORE any append work for a new id,
    * so `id > mark` PROVES this stream never appended any of the
    * batch's rows — with ids unique across the stream (the lanes'
    * stated ingest contract) the per-table ids anti-join probes, whose
    * cost scales with the INDEX rather than the batch, are then safely
    * skipped. Everything suspicious takes the probing path: a replayed
    * id (≤ mark), a missing mark (first batch of a drain — or a
    * checkpoint newly pointed at a populated index), and an unreadable
    * mark (crash mid-write → parse failure → probe, and the stamp
    * self-heals). Disable outright with
    * `spark.graft.stream.ingestHwmEnabled=false` for pipelines that
    * re-stream previously-ingested ids through fresh checkpoints
    * (which violates the uniqueness contract the skip stands on).
    */
  private def ingestBatchIsFresh(spark: SparkSession, checkpoint: String,
                                 id: Long): Boolean = {
    if (spark.conf.get("spark.graft.stream.ingestHwmEnabled", "true")
        != "true") return false
    val p = new org.apache.hadoop.fs.Path(checkpoint, "graft_ingest_hwm")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // missing and unreadable both read as "unknown" = +∞ → probe; the
    // skip only ever rides a mark THIS lane wrote
    val hwm = try {
      if (!fs.exists(p)) Long.MaxValue
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
    } catch { case _: Throwable => Long.MaxValue }
    val fresh = id > hwm
    // stamp BEFORE any append runs (the invariant is "id ≤ mark may
    // have partially appended"): create-overwrite — a crash mid-write
    // leaves a partial file that reads back as unknown, never as a
    // too-low mark
    if (fresh || hwm == Long.MaxValue)
      try {
        val out = fs.create(p, true)
        out.write(id.toString.getBytes("UTF-8"))
        out.close()
      } catch { case _: Throwable => return false }
    fresh
  }

  /** The foreachBatch scaffolding every sink here shares: append output
    * mode, the checkpoint, one `apply(batch, id)` per micro-batch.
    */
  private def batchSink(stream: DataFrame, checkpoint: String)
                       (apply: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        apply(batch.toDF(), id)
      }
      .start()

  /** [[batchSink]] for the index-ingest lanes: `apply` also gets the
    * [[ingestBatchIsFresh]] verdict, passed on as `assumeFresh`.
    */
  private def ingestSink(stream: DataFrame, checkpoint: String)
                        (apply: (DataFrame, Long, Boolean) => Unit): StreamingQuery =
    batchSink(stream, checkpoint)((batch, id) =>
      apply(batch, id, ingestBatchIsFresh(batch.sparkSession, checkpoint, id)))

  /** Land one micro-batch's rows at `dir`, a pure function of the batch
    * id: the dir is deleted FIRST, so a batch replayed after a crash
    * between the write and the checkpoint commit rewrites the same rows
    * instead of duplicating them. `rows` is evaluated after the delete —
    * a landing whose rows read the sibling dirs sees exactly the state
    * the first run saw.
    */
  private def landBatch(spark: SparkSession, dir: String)
                       (rows: => DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
    rows.write.parquet(dir)
  }

  /** The landing half of [[applyNearDupBatch]]: per-batch accepted
    * increment (delete-first — replay rewrites, never duplicates) plus
    * the optional cluster-label DELTA landing.
    *
    * The clusters table is INCREMENTAL: per-batch `inc_b<id>` dirs hold
    * the labels this batch ADDED or CHANGED (plus the batch's own
    * self-labels); a cadence compaction ([[compactClusters]], every
    * [[clustersCompactEvery]] batches) folds them into the `base/`
    * snapshot. Per-batch write I/O therefore tracks the BATCH (plus
    * whatever the batch's merges relabel), never the accumulated
    * streamed-id count — the property that lets a long-lived ingest run
    * for months without each minutely micro-batch rewriting a
    * billions-row snapshot.
    *
    * The fold touches only the components the batch's pairs reach:
    * (1) read the standing labels of the pair endpoints, (2) union-find
    * the pairs plus one endpoint→label edge each, (3) relabel the members
    * of every standing component that merged into a smaller one, (4)
    * write one delta. With at most `spark.graft.cc.localEdgeLimit` pairs
    * steps (1)-(2) are one scan of the clusters table and driver work
    * ([[foldOnDriver]]); above it they run as distributed joins and
    * [[graft.ops.Dedup.connectedComponents]] ([[foldDistributed]]).
    *
    * Correctness rests on MIN-LABEL MONOTONICITY: component labels are
    * member ids with min-preservation under merge, so an id's label only
    * ever DECREASES — the current label of an id is `min(comp)` over
    * every row ever written for it, which is exactly [[loadClusters]]'
    * read collapse — and a standing label is its component's minimum, so
    * the label node stands in for all its members in the union-find.
    * That also makes every landing replay-idempotent: the zero-pair fast
    * path rewrites the batch's self-labels (absorbed by the min), and a
    * replayed merge batch recomputes the same delta against the same
    * standing (its own inc dir is deleted FIRST, so standing is
    * bit-identical to the first run's).
    */
  private def landAcceptedAndClusters(batch: DataFrame, idCol: String,
                                      accepted: DataFrame,
                                      pairs: Option[DataFrame],
                                      acceptedPath: String, id: Long,
                                      clustersPath: Option[String],
                                      clustersCompactEvery: Int = 16)
      : Unit = {
    val spark = batch.sparkSession
    landBatch(spark, s"$acceptedPath/batch$id")(accepted)
    // landBatch deletes first: a replayed batch recomputes its delta
    // against the same standing state the first run saw
    clustersPath.foreach { cp =>
      landBatch(spark, s"$cp/inc_b$id") {
        val batchLabels = batch
          .select(col(idCol).cast("long").as("id")).distinct()
          .withColumn("comp", col("id"))
        val edges = pairs.get.select(col("a_id").cast("long"),
          col("b_id").cast("long"))
        // a batch with NO discovered edges writes ONLY its own self-labels
        // — O(|batch|) rows with no read of the standing table at all: a
        // standing id's smaller label wins at read time (min collapse),
        // a fresh id IS its own label
        val folded = graft.ops.Dedup.collectWithinLimit(edges) match {
          case Some(rows) if rows.isEmpty => None
          case Some(rows) => Some(foldOnDriver(spark, cp,
            rows.map(r => (r.getLong(0), r.getLong(1)))))
          case None =>
            if (edges.isEmpty) None else Some(foldDistributed(spark, cp, edges))
        }
        folded.fold(batchLabels)(batchLabels.unionByName(_))
      }
      // deterministic in the batch id — a replayed compact tick re-folds
      // already-folded rows, a no-op under the min collapse
      if (clustersCompactEvery > 0 && id > 0 &&
          id % clustersCompactEvery == 0)
        compactClusters(spark, cp)
    }
  }

  /** The touched-components fold for a bounded pair set: one scan of the
    * clusters table for the endpoints' standing labels, union-find on the
    * driver, and a relabel join only when a standing component merged
    * into a smaller one. Returns the delta rows beyond the batch's
    * self-labels.
    */
  private def foldOnDriver(spark: SparkSession, cp: String,
                           pairs: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val ends = pairs.flatMap(p => Array(p._1, p._2)).distinct
    // raw rows, min-collapsed here: loadClusters restricted to `ends`
    val standing = clusterRows(spark, cp)
      .join(broadcast(ends.toSeq.toDF("id")), Seq("id"), "left_semi")
      .as[(Long, Long)].collect()
      .groupMapReduce(_._1)(_._2)(math.min)
    val root = graft.ops.Dedup.componentMins(pairs.toSeq ++
      ends.map(e => (e, standing.getOrElse(e, e))))
    val fresh = ends.filterNot(standing.contains).map(e => (e, root(e)))
      .toSeq.toDF("id", "comp")
    val moved = standing.values.toSeq.distinct
      .collect { case c if root(c) < c => (c, root(c)) }
    if (moved.isEmpty) fresh
    else fresh.unionByName(relabel(spark, cp, moved.toDF("comp_was", "root")))
  }

  /** [[foldOnDriver]] as distributed joins, for a pair set above the
    * local edge limit.
    */
  private def foldDistributed(spark: SparkSession, cp: String,
                              edges: DataFrame): DataFrame = {
    val ends = edges.select(col("a_id").as("id"))
      .unionByName(edges.select(col("b_id").as("id"))).distinct()
    // materialized once: it feeds both the component edges and `moved`
    val labeled = graft.core.Checkpoints.truncate(
      ends.join(loadClusters(spark, cp), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp")))
    // (id, root) over every endpoint and every touched standing label
    val roots = graft.ops.Dedup.connectedComponents(
      labeled.select(col("id").as("a_id"), col("comp").as("b_id"))
        .unionByName(edges))
    val moved = labeled.select(col("comp").as("id")).distinct()
      .join(roots, "id").where(col("comp") < col("id"))
      .select(col("id").as("comp_was"), col("comp").as("root"))
    roots.unionByName(relabel(spark, cp, moved))
  }

  /** Every member of a moved standing component, under its new root:
    * `moved` is (comp_was, root).
    */
  private def relabel(spark: SparkSession, cp: String,
                      moved: DataFrame): DataFrame =
    loadClusters(spark, cp)
      .join(moved, col("comp") === col("comp_was"))
      .select(col("id"), col("root").as("comp"))

  /** Visible read of a streaming clusters table: `base/` snapshot plus
    * every `inc_b*` delta, collapsed to the CURRENT label per id —
    * `min(comp)`, exact because labels only ever decrease (min-label
    * preservation under merge). This is the ONLY correct way to read a
    * `clustersPath` table; a plain directory read misses the inc dirs
    * (Spark only recurses into key=value partition dirs) and would
    * return stale labels.
    */
  def loadClusters(spark: SparkSession, clustersPath: String): DataFrame =
    clusterRows(spark, clustersPath).groupBy("id").agg(min("comp").as("comp"))

  /** Every `(id, comp)` row of a clusters table — `base/` plus the
    * `inc_b*` deltas, one row per write — before [[loadClusters]]' min
    * collapse.
    */
  private def clusterRows(spark: SparkSession,
                          clustersPath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(clustersPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a compaction crashed between its move-aside and rename-in leaves
    // the only snapshot copy aside: heal before listing
    val parts =
      if (!fs.exists(root)) Nil
      else {
        val base = clustersSwap(fs, root)
        (if (base.heal()) Seq(base.live.toString) else Nil) ++
          fs.listStatus(root).collect {
            case s if s.isDirectory && s.getPath.getName.startsWith("inc_b") =>
              s.getPath.toString
          }
      }
    if (parts.isEmpty)
      spark.range(0).select(col("id"), col("id").as("comp"))
    else spark.read.parquet(parts: _*)
  }

  /** The clusters table's `base/` snapshot swap (`.base_tmp`, `.base_old`). */
  private def clustersSwap(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path): DirSwap =
    DirSwap.hidden(fs, new org.apache.hadoop.fs.Path(root, "base"), "")

  /** Fold every `inc_b*` delta into the `base/` snapshot and drop the
    * deltas — the cadence maintenance that bounds the inc-dir count.
    * The new base goes in through [[DirSwap]]; inc dirs are deleted only
    * AFTER the swap, so every crash window leaves a state
    * [[loadClusters]] reads correctly (leftover deltas are redundant
    * with the new base — absorbed by the min collapse; a base left
    * aside heals on the next read). A read that heals the base while
    * the swap has it aside makes the swap refuse to rename in, before
    * any delta is dropped.
    */
  def compactClusters(spark: SparkSession, clustersPath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(clustersPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val swap = clustersSwap(fs, root)
    swap.open()
    swap.replace(tmp => loadClusters(spark, clustersPath).write.parquet(tmp.toString))
    val deltas = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("inc_b"))
    if (deltas.nonEmpty) CrashSeam.step(s"drop deltas of $root")(
      deltas.foreach(s => fs.delete(s.getPath, true)))
  }

  /** CDC-apply sink: maintain an SCD2 dimension at `dimPath` under a
    * stream of snapshot batches — each micro-batch is merged with
    * [[graft.ops.Scd.scd2Merge]] and the dimension swapped in through
    * [[graft.core.io.DirSwap]] (`.<dim>_scd2_tmp`/`_old`; the merged plan
    * reads the old dim lazily, so overwriting in place would corrupt it
    * mid-read).
    *
    * Replay safe WITHOUT per-batch bookkeeping: re-applying the same
    * snapshot with the same date is a no-op by the merge's own semantics
    * (tracked values now equal → every row "unchanged"), so a micro-batch
    * re-run after a crash between swap and checkpoint-commit converges to
    * the identical dimension. Requires each batch be unique per key —
    * CDC upstreams that emit multiple updates per key per batch must
    * pre-compact (keep-latest) upstream.
    *
    * `dateOf` maps the batch id to the snapshot date (deterministic —
    * wall-clock here would break replay idempotency).
    */
  def scd2Sink(stream: DataFrame, dimPath: String, keys: Seq[String],
               tracked: Seq[String], checkpoint: String,
               dateOf: Long => String): StreamingQuery =
    batchSink(stream, checkpoint) { (batch, id) =>
      applyScd2Batch(batch, dimPath, keys, tracked, dateOf(id)): Unit
    }

  /** One micro-batch's SCD2 apply — separated so the replay contract is
    * directly testable: applying the same batch twice leaves the same
    * dimension.
    */
  def applyScd2Batch(batch: DataFrame, dimPath: String, keys: Seq[String],
                     tracked: Seq[String], snapshotDate: String): Unit = {
    val spark = batch.sparkSession
    val path = new org.apache.hadoop.fs.Path(dimPath)
    val swap = DirSwap.hidden(
      path.getFileSystem(spark.sparkContext.hadoopConfiguration), path, "_scd2")
    // heal first: a dimension a crashed swap left aside must be merged
    // into, not bootstrapped over from the batch (losing the history)
    val snapshot = batch.select((keys ++ tracked).map(col): _*)
    val merged =
      if (swap.open())
        graft.ops.Scd.scd2Merge(spark.read.parquet(dimPath), snapshot,
          keys, tracked, snapshotDate)
      else // first batch bootstraps the dimension: every key inserts
        snapshot.withColumn("valid_from", lit(snapshotDate))
          .withColumn("valid_to", lit(null).cast("string"))
    swap.replace(tmp => merged.write.parquet(tmp.toString))
  }
}

/** Gap-based sessionization with explicit state — the canonical
  * `flatMapGroupsWithState` pattern: one state entry per key, emitted and
  * cleared when the gap elapses (processing-time timeout keeps the example
  * test-drivable; event-time gap logic is in `fold`).
  *
  * Skew scope note: within one micro-batch, a key's events are drained
  * and sorted on one task (`fold` needs event order) — state across
  * batches stays one summary per key, but a single key emitting tens of
  * millions of events in ONE batch is a straggler/OOM risk. That is a
  * data-quality signal (bot/default-id traffic), so the drain is BOUNDED
  * (`maxBatchEventsPerKey`): past the bound the query fails loudly with
  * the key named, instead of OOMing an executor — bound the trigger
  * (`maxFilesPerTrigger`/`maxOffsetsPerTrigger`) or filter the key
  * upstream; the watermarked `windowedAgg`/`dedupStream` operators are
  * the right tool when per-event ordering is not needed.
  */
object Sessionize {

  /** Default per-key per-micro-batch event bound (~a few hundred MB of
    * buffered Event objects — survivable once, named loudly instead of a
    * silent OOM).
    */
  val DefaultMaxBatchEventsPerKey: Int = 5000000

  private def boundedDrain[T](uid: Long, it: Iterator[T],
                              max: Int): collection.Seq[T] = {
    val buf = collection.mutable.ArrayBuffer.empty[T]
    it.foreach { e =>
      require(buf.size < max,
        s"sessionize: key $uid has >= $max events in one micro-batch — a " +
          "degenerate hot key (bot/default-id traffic) would OOM the " +
          "executor; bound the trigger (maxFilesPerTrigger/" +
          "maxOffsetsPerTrigger) or filter the key upstream")
      buf += e
    }
    // no defensive copy: this buffer is at the exact memory-pressure
    // point the bound protects — fold only reads it
    buf
  }

  final case class Event(user_id: Long, ts_ms: Long, value: Double)
  final case class SessionState(start: Long, end: Long, n: Long, sum: Double)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
                           n_events: Long, sum_value: Double)

  /** Pure state fold: feed sorted events; emit a session whenever the gap
    * between consecutive events exceeds `gapMs`.
    */
  def fold(state: Option[SessionState], events: collection.Seq[Event],
           gapMs: Long):
      (Option[SessionState], Seq[(SessionState, Long)]) = {
    var cur = state
    val out = collection.mutable.ArrayBuffer.empty[(SessionState, Long)]
    events.sortBy(_.ts_ms).foreach { e =>
      cur match {
        case Some(s) if e.ts_ms - s.end > gapMs =>
          out += ((s, e.user_id))
          cur = Some(SessionState(e.ts_ms, e.ts_ms, 1, e.value))
        case Some(s) =>
          cur = Some(SessionState(s.start, math.max(s.end, e.ts_ms), s.n + 1, s.sum + e.value))
        case None =>
          cur = Some(SessionState(e.ts_ms, e.ts_ms, 1, e.value))
      }
    }
    (cur, out.toSeq)
  }

  final case class TimedEvent(user_id: Long, ts_ms: Long, value: Double,
                              ts: java.sql.Timestamp)

  /** Event-time sessionization: idle keys flush when the WATERMARK passes
    * session end + gap — no wall-clock dependence, so replays and
    * backfills produce identical sessions (the production-correct shape;
    * the processing-time variant below stays for wall-clock-driven
    * flushing). Spark runs a no-data micro-batch when the watermark
    * advances, so the flush needs no new same-key data.
    */
  def sessionsEventTime(events: Dataset[Event], gapMs: Long,
                        watermarkDelay: String,
                        maxBatchEventsPerKey: Int = DefaultMaxBatchEventsPerKey):
      Dataset[Session] = {
    import events.sparkSession.implicits._
    val timed = events
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", watermarkDelay)
      .as[TimedEvent]
    timed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(uid, s.start, s.end, s.n, s.sum))
          } else {
            val (next, closed) = fold(state.getOption,
              boundedDrain(uid, it.map(t => Event(t.user_id, t.ts_ms, t.value)),
                maxBatchEventsPerKey), gapMs)
            next.foreach { s =>
              state.update(s)
              // flush when the watermark passes end+gap; a timeout in the
              // watermark's past is illegal, so clamp just beyond it
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator.map { case (s, u) =>
              Session(u, s.start, s.end, s.n, s.sum)
            }
          }
      }
  }

  /** Sessions close when a later event arrives past the gap. With
    * `idleTimeout=true` (production default) a processing-time timeout
    * also flushes sessions whose key goes silent — note that
    * processing-time timeouts only fire when a micro-batch runs, so a
    * completely quiet stream needs a processing-time trigger interval on
    * the query for idle sessions to flush. Tests use `false` so
    * micro-batches stay purely data-driven.
    */
  def sessions(events: Dataset[Event], gapMs: Long,
               idleTimeout: Boolean = true,
               maxBatchEventsPerKey: Int = DefaultMaxBatchEventsPerKey):
      Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (idleTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, timeoutConf) {
        case (uid, it, state: GroupState[SessionState]) =>
          if (idleTimeout && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(uid, s.start, s.end, s.n, s.sum))
          } else {
            val (next, closed) = fold(state.getOption,
              boundedDrain(uid, it, maxBatchEventsPerKey), gapMs)
            next.foreach { s =>
              state.update(s)
              if (idleTimeout) state.setTimeoutDuration(gapMs)
            }
            closed.iterator.map { case (s, u) => Session(u, s.start, s.end, s.n, s.sum) }
          }
      }
  }
}

/** Streaming multi-touch attribution — [[graft.ops.Events.attribution]]'s
  * event-time lane, held to the SAME semantics (q143's oracle gates the
  * composed pipeline as q183): per user, buffered touches credit the
  * EARLIEST conversion at-or-after them in `(ts, id)` order once the
  * WATERMARK passes the conversion's timestamp — at that point no
  * earlier touch and no earlier conversion can still arrive, so each
  * conversion's credit split (first/last/linear, exact integer
  * micro-credits, remainder on the first touch) is final the moment it
  * emits and a replay/backfill produces identical credits.
  *
  * State per user is the un-finalized event suffix: everything before
  * the first pending (post-watermark) conversion is consumed on
  * finalization, and orphan touches GC once `ts + lookback` falls
  * behind the watermark (no future conversion can reach them — their
  * batch fate, dropped-with-no-credit, is already decided). An
  * event-time timeout re-fires the fold when the watermark advances
  * with no new same-key data ([[Sessionize.sessionsEventTime]]'s
  * no-data-batch contract), so quiet users still flush.
  *
  * Emits one [[AttributionStream.Credit]] row per credited touch;
  * aggregate downstream (`groupBy(channel)`, stack) for the q143
  * report shape.
  */
object AttributionStream {

  final case class AttrEvent(user_id: Long, us: Long, event_id: Long,
                             event_type: String, ts: java.sql.Timestamp)
  final case class AttrState(events: List[(Long, Long, String)])
  final case class Credit(user_id: Long, conv_us: Long, conv_id: Long,
                          channel: String, first_micro: Long,
                          last_micro: Long, linear_micro: Long)

  def credits(events: DataFrame, userCol: String, tsCol: String,
              idCol: String, typeCol: String,
              conversionType: String = "purchase",
              touchTypes: Seq[String] = Seq("view", "click"),
              lookbackSeconds: Long = 7200L,
              watermarkDelay: String = "1 hour",
              maxBatchEventsPerKey: Int =
                Sessionize.DefaultMaxBatchEventsPerKey): Dataset[Credit] = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(conversionType),
      s"conversion type $conversionType cannot also be a touch type")
    val spark = events.sparkSession
    import spark.implicits._
    val typeSet = (conversionType +: touchTypes).toSet
    val lookbackUs = lookbackSeconds * 1000000L
    // NO pre-state type filter: a Column filter between source and the
    // watermark would be PUSHED BELOW the EventTimeWatermark node by
    // Catalyst, so untracked rows (a far-future sentinel, unrelated
    // event types) would stop advancing event time and the final
    // lookback-window of real conversions would never flush (caught
    // live by the sf0.1 gate — three last-hour conversions missing).
    // Untracked types are skipped at DRAIN time instead: they advance
    // the watermark, hold no state, and emit nothing — the batch op's
    // semantics exactly.
    val timed = events.select(
        col(userCol).cast("long").as("user_id"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"),
        col(idCol).cast("long").as("event_id"),
        col(typeCol).as("event_type"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[AttrEvent]
    timed.groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, Credit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[AttrState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val drained = collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
          if (!state.hasTimedOut) it.foreach { e =>
            require(drained.size < maxBatchEventsPerKey,
              s"attribution: key $uid has >= $maxBatchEventsPerKey events " +
                "in one micro-batch — bound the trigger or filter the key " +
                "upstream (the Sessionize hot-key contract)")
            if (typeSet.contains(e.event_type))
              drained += ((e.us, e.event_id, e.event_type))
          }
          val buf = (state.getOption.map(_.events).getOrElse(Nil) ++ drained)
            .sortBy(t => (t._1, t._2))
          val out = collection.mutable.ArrayBuffer.empty[Credit]
          val pending = collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
          var rest = collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
          var halted = false
          buf.foreach { e =>
            if (halted) rest += e
            else if (e._3 == conversionType) {
              if (e._1 < wmUs) {
                val inw = pending.filter(t => e._1 - t._1 <= lookbackUs)
                val n = inw.size
                if (n > 0) {
                  val per = 1000000L / n
                  val rem = 1000000L % n
                  inw.zipWithIndex.foreach { case (t, k) =>
                    out += Credit(uid, e._1, e._2, t._3,
                      if (k == 0) 1000000L else 0L,
                      if (k == n - 1) 1000000L else 0L,
                      per + (if (k == 0) rem else 0L))
                  }
                }
                pending.clear()
              } else {
                halted = true
                rest ++= pending
                rest += e
                pending.clear()
              }
            } else pending += e
          }
          val keep = (rest ++ pending.filter(t => t._1 + lookbackUs >= wmUs))
            .toList
          if (keep.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(AttrState(keep))
            // wake when the watermark can finalize the next pending
            // conversion, or GC the oldest orphan touch
            val nextConvMs = keep.find(_._3 == conversionType)
              .map(_._1 / 1000L + 1L)
            val gcMs = keep.headOption
              .map(_._1 / 1000L + lookbackSeconds * 1000L + 1L)
            val cand = nextConvMs.orElse(gcMs).getOrElse(wmMs + 1L)
            state.setTimeoutTimestamp(math.max(cand, wmMs + 1L))
          }
          out.iterator
      }
  }
}

/** Streaming ordered-step funnel — [[graft.ops.Events.funnel]]'s
  * event-time lane (q115's semantics, gated as q187): per user the
  * chained-minima rule is a tiny state machine — an event advances the
  * funnel iff its type is the NEXT step in `(ts, id)` order — and the
  * advance decision for an event is final once the WATERMARK passes its
  * timestamp (no earlier event can still arrive). A skipped-ahead event
  * (step k seen while the user sits below k-1) is discarded, exactly as
  * the batch running-min never counts it: any later completion of k-1
  * has a larger timestamp, which that event can no longer satisfy.
  *
  * State per user: the completed-step counter plus only the
  * not-yet-final event suffix (ts >= watermark) — completed and
  * discarded events hold no state, so a user's footprint is O(pending
  * events in the watermark window), not O(history). Emits one
  * [[FunnelStream.StepCompletion]] per advance; counting distinct users
  * per step downstream reproduces the batch funnel report (a user who
  * reached step k emitted every step 1..k once).
  *
  * RETENTION: exact batch equivalence requires remembering every user
  * who advanced at least one step FOREVER — a later step can always
  * arrive, so by default the state store grows with the distinct
  * advanced-user count (a few counters per user, but monotone). At the
  * 100 TB / billions-of-users scale that is the wrong default trade, so
  * `inactivityTtlSeconds` bounds it: a user whose funnel has no pending
  * events and no tracked activity for the TTL is evicted, and a
  * TTL-late step restarts that user's funnel from step 1 (it may
  * re-emit early steps — downstream `count_distinct(user_id)` per step
  * absorbs the duplicate; a strict-exactness consumer leaves the TTL
  * unset). Pick the TTL like a watermark: longer than any plausible
  * funnel dwell time.
  *
  * CHECKPOINT COMPATIBILITY: [[FunnelStream.FunnelState]] gained a
  * `lastUs` field when the TTL landed (round 9). flatMapGroupsWithState
  * state is encoder-schema-bound, so a query restarted from a
  * checkpoint written BEFORE that change will fail to decode its state
  * — this is a deliberate one-time break, not silent misdecoding (the
  * extra Long shifts the UnsafeRow layout and Spark's state-store
  * schema check rejects it at restart). Migration: drain the old query
  * to a quiet point (watermark past all pending funnels), then restart
  * with a FRESH checkpoint dir; in-flight funnels below the watermark
  * re-emit nothing, and downstream per-step `count_distinct` absorbs
  * any tail overlap. Future state evolutions must follow the same
  * drain-and-restart protocol (Spark's state schema evolution does not
  * cover case-class field additions on this API).
  */
object FunnelStream {

  final case class FunnelEvent(user_id: Long, us: Long, event_id: Long,
                               event_type: String, ts: java.sql.Timestamp)
  final case class FunnelState(completed: Int,
                               pending: List[(Long, Long, String)],
                               lastUs: Long = 0L)
  final case class StepCompletion(user_id: Long, step_idx: Int,
                                  step: String, us: Long)

  def completions(events: DataFrame, userCol: String, tsCol: String,
                  idCol: String, typeCol: String, steps: Seq[String],
                  watermarkDelay: String = "1 hour",
                  maxBatchEventsPerKey: Int =
                    Sessionize.DefaultMaxBatchEventsPerKey,
                  inactivityTtlSeconds: Option[Long] = None):
      Dataset[StepCompletion] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "duplicate funnel steps")
    inactivityTtlSeconds.foreach(t =>
      require(t > 0, s"inactivityTtlSeconds must be > 0: $t"))
    val ttlUs = inactivityTtlSeconds.map(_ * 1000000L)
    val spark = events.sparkSession
    import spark.implicits._
    val stepArr = steps.toArray
    val stepSet = steps.toSet
    // no pre-state type filter — see AttributionStream.credits: Catalyst
    // would push it below the watermark node and untracked rows would
    // stop advancing event time; non-step types are skipped at drain
    val timed = events.select(
        col(userCol).cast("long").as("user_id"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"),
        col(idCol).cast("long").as("event_id"),
        col(typeCol).as("event_type"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[FunnelEvent]
    timed.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StepCompletion](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[FunnelState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val prior = state.getOption.getOrElse(FunnelState(0, Nil))
          val drained = collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
          if (!state.hasTimedOut) it.foreach { e =>
            require(drained.size < maxBatchEventsPerKey,
              s"funnel: key $uid has >= $maxBatchEventsPerKey events in " +
                "one micro-batch — bound the trigger or filter the key " +
                "upstream (the Sessionize hot-key contract)")
            if (stepSet.contains(e.event_type))
              drained += ((e.us, e.event_id, e.event_type))
          }
          val buf = (prior.pending ++ drained).sortBy(t => (t._1, t._2))
          var completed = prior.completed
          val out = collection.mutable.ArrayBuffer.empty[StepCompletion]
          val keep = collection.mutable.ListBuffer.empty[(Long, Long, String)]
          buf.foreach { e =>
            if (e._1 >= wmUs) keep += e
            else if (completed < stepArr.length &&
                e._3 == stepArr(completed)) {
              completed += 1
              out += StepCompletion(uid, completed, stepArr(completed - 1),
                e._1)
            } // else: final non-advancing event — discard
          }
          val lastUs = (prior.lastUs +: drained.map(_._1).toList).max
          val next = FunnelState(completed, keep.toList, lastUs)
          // evict: nothing to remember, or (TTL mode) a quiescent funnel
          // whose tracked activity aged past the inactivity horizon — the
          // documented exactness-for-bounded-state trade
          val ttlExpired = next.pending.isEmpty &&
            ttlUs.exists(t => wmUs >= next.lastUs + t)
          if ((next.pending.isEmpty && next.completed == 0) || ttlExpired) {
            if (state.exists) state.remove()
          } else {
            state.update(next)
            // wake to finalize the next pending event, or (TTL mode, no
            // pending) to expire the quiescent funnel
            val pendWake = next.pending.headOption.map(_._1 / 1000L + 1L)
            val ttlWake =
              if (next.pending.isEmpty)
                ttlUs.map(t => (next.lastUs + t) / 1000L + 1L)
              else None
            pendWake.orElse(ttlWake).foreach { w =>
              state.setTimeoutTimestamp(math.max(w, wmMs + 1L))
            }
          }
          out.iterator
      }
  }
}

/** Kafka-sink payload semantics (reference yaetos/kafka_utils.py:14-73):
  * one JSON document per record with required-field validation before
  * send. The actual transport rides the spark-sql-kafka connector WHEN
  * its jar is on the classpath ([[push]] probes for it) — in this
  * zero-egress image it is absent, so `push` degrades to building and
  * validating the exact (key, value) frame `.format("kafka")` consumes,
  * reporting `sent = false`.
  */
object KafkaSink {

  /** Whether the spark-sql-kafka connector is loadable. Probed by CLASS
    * (not by format-name resolution) so the check is cheap and
    * side-effect-free — through the CONTEXT classloader, because jars
    * supplied via `--jars`/`--packages` live in Spark's mutable
    * classloader, not the application loader that defined this class
    * (a bare `Class.forName` would miss them and silently skip the
    * send). `initialize = false` plus the LinkageError catch keep a
    * half-present connector (jar without its kafka-clients dependency)
    * reporting unavailable instead of crashing the probe.
    */
  def transportAvailable: Boolean = transportAvailableFor("kafka")

  /** Per-format transport probe. The default `"kafka"` format resolves
    * to the connector class probe above; any other format (a stand-in
    * provider in tests, an alternative producer in a custom deploy) is
    * probed by loading it as a class through the same context
    * classloader — `CreatableRelationProvider` implementations are
    * addressed by fully-qualified class name, so a loadable class IS an
    * available transport for `.write.format(name)`.
    */
  def transportAvailableFor(format: String): Boolean = {
    val probeClass =
      if (format == "kafka") "org.apache.spark.sql.kafka010.KafkaSourceProvider"
      else format
    val loader = Option(Thread.currentThread().getContextClassLoader)
      .getOrElse(getClass.getClassLoader)
    try {
      Class.forName(probeClass, false, loader)
      true
    } catch {
      case _: ClassNotFoundException => false
      case _: LinkageError => false
    }
  }

  /** Outcome of a [[push]]: whether the transport ran, the (key, value)
    * frame that was (or would have been) produced, and the rows dropped
    * by required-field validation — the caller decides whether a
    * non-empty `invalid` is an error (the reference logs and drops).
    */
  final case class PushResult(sent: Boolean, payload: DataFrame, invalid: DataFrame)

  /** Validate, serialize, and produce `df` to a Kafka topic. With the
    * connector jar present this is a real batch produce via
    * `.write.format("kafka")`; without it (this image) the validated
    * payload is still built — same plan, same validation errors — and
    * `sent = false` is returned with a loud stderr note, so pipelines
    * are testable end-to-end up to the network boundary.
    *
    * `format` is the produce seam: it defaults to the real connector
    * (`"kafka"`) but accepts any `CreatableRelationProvider` class name,
    * which receives the identical frame + options through the identical
    * `.write.format(...)` plumbing — StreamsSpec drives the FULL send
    * branch through a recording stand-in provider, so the only code this
    * image cannot execute is the connector jar itself (covered by the
    * connector's own contract).
    */
  def push(df: DataFrame, bootstrapServers: String, topic: String,
           required: Seq[String] = Nil, keyCol: Option[String] = None,
           format: String = "kafka"): PushResult = {
    val (valid, invalid) =
      if (required.nonEmpty) validateRequired(df, required)
      else (df, df.limit(0))
    val frame = payload(valid, keyCol)
    if (transportAvailableFor(format)) {
      frame.write.format(format)
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("topic", topic)
        .save()
      PushResult(sent = true, payload = frame, invalid = invalid)
    } else {
      System.err.println(s"[graft] KafkaSink.push: transport '$format' " +
        s"not on the classpath; payload for topic '$topic' validated and " +
        "built but NOT sent")
      PushResult(sent = false, payload = frame, invalid = invalid)
    }
  }

  /** (key, value) frame: value = to_json(struct(*)), key optional. */
  def payload(df: DataFrame, keyCol: Option[String] = None): DataFrame = {
    val value = to_json(struct(df.columns.map(col): _*)).as("value")
    keyCol match {
      case Some(k) => df.select(col(k).cast("string").as("key"), value)
      case None => df.select(value)
    }
  }

  /** Split records by required-field presence (the reference's JSON-schema
    * check, as a distributed filter): returns (valid, invalid).
    */
  def validateRequired(df: DataFrame, required: Seq[String]): (DataFrame, DataFrame) = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"schema missing required fields: $missing")
    val ok = required.map(col(_).isNotNull).reduce(_ && _)
    (df.filter(ok), df.filter(!ok))
  }
}
