package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.core.{GraftSession, Tables}

/** Scale-stress measurement for the STATEFUL STREAMING lanes — the
  * [[BenchStress]] methodology applied to q101 (near-dup ingest), q183
  * (event-time attribution) and q187 (event-time funnel): each lane runs
  * against a 1× and a `copies`× source with a planted hot user (10% of
  * all rows on ONE key) delivered as chronological micro-batches through
  * a real file source (watermark trails each batch by the delay — the
  * lagging-source shape), and prints total wall, per-batch latency, and
  * the MAX state-store rows, so the "per-batch cost tracks the batch,
  * state tracks live keys" claims are one command to reproduce:
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BenchStressStreaming" }}}
  */
object BenchStressStreaming {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val chunks = 8
    val spark = GraftSession.local()
    val root = java.nio.file.Files
      .createTempDirectory("graft_stress_stream").toString

    val ev = Tables.load(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
    val stressedEv = (0 until copies).map { k =>
      ev.select((col("event_id") + lit(k.toLong * 100000000L)).as("event_id"),
        col("ts"), col("user_id"), col("event_type"))
    }.reduce(_.unionByName(_))
      .withColumn("user_id",
        when(col("event_id") % 10 === 0, lit(-1L)).otherwise(col("user_id")))
      .localCheckpoint()

    /** Stage `e` as `chunks` chronological parquet files plus a
      * far-future sentinel file — sequential writes give ascending
      * mtimes, so maxFilesPerTrigger=1 replays them in event-time order
      * and the watermark advances batch by batch.
      */
    def stage(e: DataFrame, name: String): String = {
      val out = s"$root/$name"
      val n = e.count()
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("ts", "event_id")
      val chunked = e
        .withColumn("_chunk",
          ((row_number().over(w) - 1) * chunks / n).cast("int"))
        .localCheckpoint()
      (0 until chunks).foreach { i =>
        chunked.filter(col("_chunk") === i).drop("_chunk")
          .coalesce(1).write.mode("append").parquet(out)
      }
      import spark.implicits._
      Seq((-99L, java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), -99L,
          "sentinel"))
        .toDF("event_id", "ts", "user_id", "event_type")
        .coalesce(1).write.mode("append").parquet(out)
      out
    }

    final case class LaneStats(wallS: Double, batches: Int, maxBatchS: Double,
                               maxStateRows: Long, outRows: Long)

    def runLane(path: String, lane: String)
               (build: DataFrame => org.apache.spark.sql.Dataset[_]): LaneStats = {
      val src = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.withStatePartitions(spark, 8) {
        build(src).writeStream.format("memory").queryName(lane)
          .outputMode("append").start()
      }
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.toSeq
      val batchS = progs.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toLong / 1000.0))
      val maxState = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
        .maxOption.getOrElse(0L)
      val rows = spark.table(lane).count()
      q.stop()
      LaneStats(wall, batchS.size, if (batchS.isEmpty) 0 else batchS.max,
        maxState, rows)
    }

    def report(lane: String, s1: LaneStats, sN: LaneStats): Unit = {
      val exp = math.log(sN.wallS / s1.wallS) / math.log(copies.toDouble)
      println(f"$lane%-22s 1x: ${s1.wallS}%6.1f s (${s1.batches}%2d batches, " +
        f"max ${s1.maxBatchS}%5.2f s/b, state ${s1.maxStateRows}%8d, ${s1.outRows}%8d out)")
      println(f"$lane%-22s ${copies}x: ${sN.wallS}%6.1f s (${sN.batches}%2d batches, " +
        f"max ${sN.maxBatchS}%5.2f s/b, state ${sN.maxStateRows}%8d, ${sN.outRows}%8d out)")
      println(f"$lane%-22s time exponent: $exp%.2f  (1.0 = linear in rows)")
    }

    val p1 = stage(ev, "ev1")
    val pN = stage(stressedEv, s"ev$copies")
    println(s"events: ${ev.count()} -> ${stressedEv.count()} rows with hot " +
      s"user -1, $chunks chronological batches + sentinel")

    report("stream attribution",
      runLane(p1, "bss_attr_1")(df =>
        graft.streaming.AttributionStream.credits(df, "user_id", "ts",
          "event_id", "event_type", watermarkDelay = "30 minutes")),
      runLane(pN, "bss_attr_n")(df =>
        graft.streaming.AttributionStream.credits(df, "user_id", "ts",
          "event_id", "event_type", watermarkDelay = "30 minutes")))

    report("stream funnel",
      runLane(p1, "bss_fun_1")(df =>
        graft.streaming.FunnelStream.completions(df, "user_id", "ts",
          "event_id", "event_type", Seq("view", "click", "purchase"),
          watermarkDelay = "30 minutes")),
      runLane(pN, "bss_fun_n")(df =>
        graft.streaming.FunnelStream.completions(df, "user_id", "ts",
          "event_id", "event_type", Seq("view", "click", "purchase"),
          watermarkDelay = "30 minutes")))

    // near-dup stream ingest (q101's lane): a FIXED delta stream paired
    // against a 1x vs a `copies`x persisted index — the claim is that
    // per-batch ingest cost tracks the delta and its matched buckets,
    // never the corpus (the index conversion's whole point), so the
    // time exponent must sit far below 1.
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val stressedDocs = (0 until copies).map { k =>
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + lit(k.toLong * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" variant token$k stress$k pad$k")).as("text"))
    }.reduce(_.unionByName(_)).localCheckpoint()
    val delta = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 50000000L).as("doc_id"),
        concat(col("text"), lit(" fresh delta tail words here")).as("text"))
      .localCheckpoint()
    def ingestLane(corpus: DataFrame, name: String,
                   clusters: Boolean = false): LaneStats = {
      Seq("_shingles", "_buckets", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $name$s"))
      graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", name)
      val src = s"$root/${name}_delta"
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      val nd = delta.count()
      val chunked = delta.withColumn("_chunk",
        ((row_number().over(w) - 1) * 4 / nd).cast("int")).localCheckpoint()
      (0 until 4).foreach(i => chunked.filter(col("_chunk") === i)
        .drop("_chunk").coalesce(1).write.mode("append").parquet(src))
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(src)
      val t0 = System.nanoTime()
      val q = graft.streaming.Streams.nearDupSink(stream, name, "doc_id",
        "text", threshold = 0.8, maxBandFreq = Some(50),
        acceptedPath = s"$root/${name}_accepted",
        checkpoint = s"$root/${name}_ckpt",
        clustersPath = if (clusters) Some(s"$root/${name}_clusters") else None)
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.toSeq
      val batchS = progs.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toLong / 1000.0))
      q.stop()
      val accepted = spark.read.parquet(s"$root/${name}_accepted/batch*").count()
      LaneStats(wall, batchS.size, if (batchS.isEmpty) 0 else batchS.max,
        if (clusters)
          graft.streaming.Streams
            .loadClusters(spark, s"$root/${name}_clusters").count()
        else 0L, accepted)
    }
    println(s"ingest delta: ${delta.count()} docs, 4 micro-batches")
    report("stream neardup ingest",
      ingestLane(docs, "bssnd1"),
      ingestLane(stressedDocs, s"bssnd$copies"))
    // same lanes with the per-batch cluster fold: the delta's extra cost
    // is one scan of the clusters table plus a union-find over the
    // batch's pairs and their endpoints' labels (delta-sized, never
    // corpus-sized), so the exponent must stay far below 1 too; `state`
    // reports the final clusters-table rows
    report("ingest + cluster fold",
      ingestLane(docs, "bssnc1", clusters = true),
      ingestLane(stressedDocs, s"bssnc$copies", clusters = true))

    // LABEL-TABLE GROWTH: a zero-pair batch's cluster landing must cost
    // O(|batch|) regardless of the accumulated label count — the
    // incremental inc_b<id> landing never reads or rewrites the standing
    // snapshot. Seed 1x vs `copies`x standing labels, land the SAME
    // synthetic no-near-dup batch (hash-derived tokens share no
    // shingles), and the wall must stay flat (exponent ~0).
    def landLane(nLabels: Long, name: String): LaneStats = {
      Seq("_shingles", "_buckets", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $name$s"))
      import spark.implicits._
      graft.ops.Dedup.writeNearDupIndex(
        Seq((1L, "seed corpus document with a few plain words"))
          .toDF("doc_id", "text"), "doc_id", "text", name, numBuckets = 4)
      val cp = s"$root/${name}_clusters"
      spark.range(nLabels).select(col("id"), col("id").as("comp"))
        .write.mode("overwrite").parquet(s"$cp/base")
      val batch = spark.range(90000000L, 90002000L)
        .select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(30)),
            i => concat(lit("tok"),
              pmod(col("id") * 2654435761L + i * 40503L, lit(99991)))))
            .as("text"))
      val t0 = System.nanoTime()
      graft.streaming.Streams.applyNearDupBatch(batch.toDF(), name,
        "doc_id", "text", threshold = 0.8, maxBandFreq = Some(50),
        acceptedPath = s"$root/${name}_acc", id = 1L,
        clustersPath = Some(cp))
      val wall = (System.nanoTime() - t0) / 1e9
      val written = spark.read.parquet(s"$cp/inc_b1").count()
      LaneStats(wall, 1, wall, written, 2000L)
    }
    val seedLabels = 100000L
    println(s"cluster landing vs standing labels: $seedLabels vs " +
      s"${seedLabels * copies} seeded; `state` = inc_b rows written " +
      "(must equal the batch, never the standing count)")
    report("zero-pair cluster land",
      landLane(seedLabels, "bsscl1"),
      landLane(seedLabels * copies, s"bsscl$copies"))

    spark.stop()
  }
}
