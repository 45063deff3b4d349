package graft

import org.apache.spark.sql.functions._
import graft.Queries.QueryDef

/** Round-12 widening: the skipping manifest becomes SELF-MAINTAINING on
  * the write path — a YAML output's `stats_manifest` ticks at every
  * write/period ([[graft.core.io.Skipping.maintainManifest]]), so a
  * producer→consumer incremental DAG keeps its own pruning metadata
  * fresh with zero scheduled profiling scans (q220); Z-order layouts
  * prove file pruning on EVERY interleaved dimension (q221); and the
  * token-grain near-dup index gains its streaming ingest lane (q222).
  */
object QueriesRound12 {

  private def t(spark: org.apache.spark.sql.SparkSession, dir: String,
                name: String) = graft.core.Tables.load(spark, dir, name)

  /** SELF-MAINTAINING SKIPPING across a YAML DAG: the producer is an
    * incremental job whose output declares `stats_manifest` +
    * `stats_cols` — its FIRST period pass builds the per-file min/max
    * manifest (footer-derived) and every later pass delta-refreshes it
    * as part of the write ([[graft.engine.Etl]]'s post-write hook). The
    * consumer reads the producer's sink through `skip_manifest`, so each
    * of ITS period passes prunes files at plan time. Nobody schedules a
    * profiling job: the metadata maintenance rides the writes that
    * created the files — at 100 TB the difference between skipping that
    * works on day one and skipping that is perpetually a cadence stale.
    * Gates: the manifest must cover EVERY sink file (a half-covered
    * manifest reads unlisted files conservatively — correct but
    * unpruned, and this query fails loudly instead), and a one-period
    * consumer pass must read ONLY that period's increment files. The
    * oracle is the plain three-day slice — the whole machine must be
    * invisible in the result.
    */
  val q220 = QueryDef("q220_selfmaintaining_skip_dag", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q220")
    val yml =
      s"""jobs:
         |  producer:
         |    inputs:
         |      li:
         |        path: $dir/lineitem.parquet
         |        inc_field: l_shipdate
         |    output:
         |      path: $out/sink
         |      inc_field: l_shipdate
         |      stats_manifest: $out/manifest
         |      stats_cols: [l_shipdate]
         |    sql: "SELECT l_shipdate, l_orderkey, l_quantity,
         |      l_extendedprice FROM li"
         |  consumer:
         |    inputs:
         |      src:
         |        path: $out/sink
         |        inc_field: l_shipdate
         |        skip_manifest: $out/manifest
         |    output: {path: $out/final, inc_field: l_shipdate}
         |    sql: "SELECT l_shipdate, l_orderkey, l_quantity,
         |      l_extendedprice FROM src"
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/job.yml"),
      yml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val jobs = graft.core.model.Manifest.loadFile(s"$out/job.yml").jobs
    val d0 = java.time.LocalDate.parse("1995-06-01")
    val d1 = java.time.LocalDate.parse("1995-06-03")
    graft.engine.MultiPass.run(spark, jobs("producer"), d0, d1, now = "p1")
    // coverage gate: the write-path ticks must have the manifest
    // covering every file the three passes landed
    val total = spark.read.parquet(s"$out/sink/inc_*").inputFiles.length
    val mfN = spark.read.parquet(s"$out/manifest")
      .select("file").distinct().count()
    require(mfN == total.toLong,
      s"write-path manifest must cover the sink: $mfN of $total files")
    // pruning gate: a consumer period pass plans a scan over the
    // period's inclusive [p, p+1] hull only — the 06-01 increment must
    // drop at plan time (and with full coverage proven above,
    // unlisted-file conservatism cannot mask a stale manifest)
    val probe = graft.engine.Etl.runJob(spark, jobs("consumer"),
      period = Some("1995-06-02"), save = false)
    require(probe.df.inputFiles.nonEmpty &&
      probe.df.inputFiles.length < total &&
      probe.df.inputFiles.forall(f => !f.contains("1995-06-01")),
      s"period pass must prune the out-of-window increment: read " +
        s"${probe.df.inputFiles.length} of $total")
    graft.engine.MultiPass.run(spark, jobs("consumer"), d0, d1, now = "c1")
    spark.read.parquet(s"$out/final/inc_*")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("rev"))
      .orderBy("day")
  }, Some(
    """SELECT strftime(l_shipdate, '%Y-%m-%d') AS day,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_extendedprice), 2) AS rev
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE)
      |  BETWEEN DATE '1995-06-01' AND DATE '1995-06-03'
      |GROUP BY 1 ORDER BY day""".stripMargin))

  /** Z-ORDER PRUNES ON EVERY DIMENSION: the point of interleaving bits
    * ([[graft.ops.Layout.zorderWrite]]) is that a filter on ANY
    * clustered dimension drops files — a single-column sort clusters one
    * predicate dimension, the Z-curve clusters all of them. The layout
    * lands with its write-time footer manifest; the gates require a ~5%
    * slice on l_orderkey ALONE and on l_partkey ALONE to each prune
    * (the r10-verdict shape q215's IN-list probe left uncovered). `bits`
    * sizes to the data's actual key range so the curve never truncates
    * high bits (masked bits would de-cluster the RAW values the manifest
    * profiles). The returned frame filters on the conjunction; the
    * oracle recomputes the same integer slice bounds as subqueries.
    */
  val q221 = QueryDef("q221_zorder_twodim_prune", (spark, dir) => {
    import graft.core.io.Skipping
    val out = graft.Queries.tmpDir("graft_q221")
    val li = t(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_extendedprice")
    val r = li.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).collect().head
    val (olo, ohi, plo, phi) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val bits = Seq(ohi, phi).map(v => 64 - java.lang.Long
      .numberOfLeadingZeros(math.max(v, 1L))).max
    graft.ops.Layout.zorderWrite(li,
      Seq(col("l_orderkey"), col("l_partkey")), s"$out/data",
      numFiles = 16, bits = bits,
      statsManifest = Some(s"$out/manifest"),
      statsCols = Seq("l_orderkey", "l_partkey"))
    val (oHiB, pHiB) = (olo + (ohi - olo) / 20, plo + (phi - plo) / 20)
    val pO = Skipping.pruneFiles(spark, s"$out/data", s"$out/manifest",
      Seq(Skipping.ColumnRange("l_orderkey", Some(olo), Some(oHiB))))
    val pP = Skipping.pruneFiles(spark, s"$out/data", s"$out/manifest",
      Seq(Skipping.ColumnRange("l_partkey", Some(plo), Some(pHiB))))
    require(pO.readFiles < pO.manifestFiles,
      s"orderkey slice must prune: ${pO.readFiles}/${pO.manifestFiles}")
    require(pP.readFiles < pP.manifestFiles,
      s"partkey slice must prune: ${pP.readFiles}/${pP.manifestFiles}")
    Skipping.read(spark, s"$out/data", s"$out/manifest",
        Seq(Skipping.ColumnRange("l_orderkey", Some(olo), Some(oHiB)),
          Skipping.ColumnRange("l_partkey", Some(plo), Some(pHiB))))
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("rev"),
        sum("l_orderkey").as("sum_ok"), sum("l_partkey").as("sum_pk"))
  }, Some(
    """WITH b AS (SELECT min(l_orderkey) AS olo, max(l_orderkey) AS ohi,
      |                  min(l_partkey) AS plo, max(l_partkey) AS phi
      |           FROM lineitem)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_extendedprice), 2) AS rev,
      |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
      |  CAST(sum(l_partkey) AS BIGINT) AS sum_pk
      |FROM lineitem, b
      |WHERE l_orderkey BETWEEN b.olo AND b.olo + (b.ohi - b.olo) // 20
      |  AND l_partkey BETWEEN b.plo AND b.plo + (b.phi - b.plo) // 20""".stripMargin))

  private val q222MergePath = QueriesScale.sidePath("q222_token_merges")

  /** STREAMING TOKEN-GRAIN near-dup ingest
    * ([[graft.streaming.Streams.nearDupSink]] over a BPE-piece index):
    * q209's steady-state BPE-piece ingest made continuous — the q70 delta
    * replays through a file stream in two micro-batches (odd docs, then
    * the +300000 variants, the q101 batching) against the persisted
    * token index; each batch encodes only itself under the index's
    * STORED merges. The union of per-batch accepted increments must
    * equal the one-shot batch ingest's survivor set — q209's full-chain
    * DuckDB oracle verbatim (recursive BPE apply, piece-5-gram
    * within-delta collapse, cross-corpus drop), over the merges THIS
    * run learned and stored.
    */
  val q222 = QueryDef("q222_stream_token_neardup", (spark, dir) => {
    QueriesScale.reapStaleSideTables("q222_token_merges")
    graft.ops.IndexStore.dropTables(spark,
      Seq("_shingles", "_buckets", "_meta", "_tombstones", "_merges")
        .map("q222idx" + _))
    val (corpus, delta) = QueriesText.q70Corpus(spark, dir)
    graft.ops.Bpe.learn(corpus, "text", numMerges = 20)
      .write.mode("overwrite").parquet(q222MergePath)
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", "q222idx",
      n = 5, numBuckets = 8, merges = Some(spark.read.parquet(q222MergePath)))
    val out = graft.Queries.tmpDir("graft_q222")
    delta.filter(col("doc_id") < 300000).coalesce(1)
      .write.mode("append").parquet(s"$out/in")
    delta.filter(col("doc_id") >= 300000).coalesce(1)
      .write.mode("append").parquet(s"$out/in")
    val stream = graft.streaming.Streams.readFileStream(spark,
      graft.core.model.DatasetSpec(path = s"$out/in", format = "parquet",
        readOptions = Map("maxFilesPerTrigger" -> "1")),
      "doc_id BIGINT, text STRING")
    graft.streaming.Streams.withStatePartitions(spark, 8) {
      val q = graft.streaming.Streams.nearDupSink(stream, "q222idx",
        "doc_id", "text", threshold = 0.8, maxBandFreq = None,
        acceptedPath = s"$out/acc", checkpoint = s"$out/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(s"$out/acc/batch*").orderBy("doc_id")
  }, Some(QueriesRound10.tokenIngestOracle(q222MergePath)))

  /** YAML-DECLARED STREAMING JOB ([[graft.engine.StreamRun]] /
    * `Runner --streaming`): the SAME manifest entry shape every batch
    * job uses — one file-source input, an inline-SQL transform, an
    * incremental output with `stats_manifest` — drains as a Structured
    * Streaming pipeline: three feed files become three micro-batches,
    * each landing a delete-first increment AND ticking the sink's
    * skipping manifest. Gates: the drain ran as 3 micro-batches (not
    * one batch read), and the write-path manifest covers every sink
    * file. The oracle is the plain filtered aggregate — the streaming
    * machinery must be invisible in the result.
    */
  val q223 = QueryDef("q223_yaml_streaming_job", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q223")
    val li = t(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    (0 until 3).foreach(i => li.filter(pmod(col("l_orderkey"), lit(3)) === i)
      .coalesce(1).write.mode("append").parquet(s"$out/feed"))
    val yml =
      s"""jobs:
         |  stream_rev:
         |    inputs:
         |      li:
         |        path: $out/feed
         |        read_kwargs: {maxFilesPerTrigger: "1"}
         |    output:
         |      path: $out/sink
         |      inc_field: l_orderkey
         |      stats_manifest: $out/manifest
         |      stats_cols: [l_orderkey]
         |    sql: "SELECT l_returnflag, l_orderkey, l_extendedprice
         |      FROM li WHERE l_quantity > 25"
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/job.yml"),
      yml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val job = graft.core.model.Manifest.loadFile(s"$out/job.yml")
      .jobs("stream_rev")
    val batches = graft.streaming.Streams.withStatePartitions(spark, 8) {
      graft.engine.StreamRun.runOnce(spark, job, s"$out/ckpt", now = "s1")
    }
    require(batches == 3L,
      s"three feed files must drain as three micro-batches, got $batches")
    val files = spark.read.parquet(s"$out/sink/inc_*").inputFiles.length
    val mfN = spark.read.parquet(s"$out/manifest")
      .select("file").distinct().count()
    require(mfN == files.toLong,
      s"per-batch manifest ticks must cover the sink: $mfN of $files")
    spark.read.parquet(s"$out/sink/inc_*")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("rev"))
      .orderBy("l_returnflag")
  }, Some(
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_extendedprice), 2) AS rev
      |FROM lineitem WHERE l_quantity > 25
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin))

  /** YAML-DECLARED STREAMING DRIFT MONITOR (`stream_lane: psi_drift`):
    * q204's continuous PSI monitor with every moving part in the
    * manifest — the file-source input, an inline-SQL projection, the
    * stored reference, and the partials sink. Three micro-batches land
    * their integer bucket partials through the YAML-dispatched
    * [[graft.streaming.Streams.partialsSink]]; the accumulated score
    * must equal the full batch recompute — q186's oracle verbatim
    * (q204's gate, now reachable without writing a line of Scala).
    */
  val q224 = QueryDef("q224_yaml_stream_psi", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q224")
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_extendedprice").as("v"))
    graft.ops.Stats.writePsiReference(ref, "v", s"$out/ref", bins = 10)
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .select(col("l_extendedprice").as("price"),
        pmod(col("l_orderkey"), lit(3)).as("_chunk"))
    (0 until 3).foreach(i => cur.filter(col("_chunk") === i).drop("_chunk")
      .coalesce(1).write.mode("append").parquet(s"$out/feed"))
    val yml =
      s"""jobs:
         |  psi_monitor:
         |    inputs:
         |      cur:
         |        path: $out/feed
         |        read_kwargs: {maxFilesPerTrigger: "1"}
         |    output: {path: $out/partials}
         |    sql: "SELECT price * 1.08 AS v FROM cur"
         |    params:
         |      stream_lane: psi_drift
         |      ref: $out/ref
         |      value_col: v
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/job.yml"),
      yml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val job = graft.core.model.Manifest.loadFile(s"$out/job.yml")
      .jobs("psi_monitor")
    val batches = graft.streaming.Streams.withStatePartitions(spark, 8) {
      graft.engine.StreamRun.runOnce(spark, job, s"$out/ckpt", now = "s1")
    }
    require(batches == 3L,
      s"three feed files must drain as three micro-batches, got $batches")
    graft.ops.Stats.psiFromPartials(spark, s"$out/ref",
        spark.read.parquet(s"$out/partials/batch*"))
      .orderBy("bucket")
  }, QueriesRound8.q186.oracle)

  /** FOOTER-BLOOM POINT-PROBE PRUNING
    * ([[graft.ops.Layout.rangeSortedWrite]] `bloomCols=` +
    * [[graft.core.io.Skipping.pruneFiles]] `footerBlooms=true`): the
    * layout clusters on l_shipdate, so an l_orderkey point probe's
    * min/max hull excludes NOTHING — every file spans the key domain.
    * Parquet bloom filters written at layout time answer it: one
    * order's ≤7 lineitems ship within a bounded window, so the probe
    * lands in ~1-2 of the shipdate-clustered files and the blooms drop
    * the rest at plan time (no false negatives by parquet's contract;
    * a false positive only loses pruning — and the row-level re-filter
    * plus the DuckDB hash keep the ANSWER exact regardless). This is
    * the unclustered-point-lookup prune that q215's IN-list (which
    * rides clustering) cannot express; the gate requires the blooms to
    * beat the bloomless baseline, which reads every file.
    */
  val q225 = QueryDef("q225_bloom_pruned_probe", (spark, dir) => {
    import graft.core.io.Skipping
    val out = graft.Queries.tmpDir("graft_q225")
    val li = t(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
    graft.ops.Layout.rangeSortedWrite(li, col("l_shipdate"), s"$out/data",
      numFiles = 12, tiebreak = Seq(col("l_orderkey")),
      statsManifest = Some(s"$out/manifest"), statsCols = Seq("l_shipdate"),
      bloomCols = Seq("l_orderkey"), bloomNdv = 200000L)
    val key = li.agg(min("l_orderkey")).collect().head.getLong(0)
    val probe = Seq(Skipping.ColumnIn("l_orderkey", Seq(key)))
    val base = Skipping.pruneFiles(spark, s"$out/data", s"$out/manifest",
      probe)
    val bloomed = Skipping.pruneFiles(spark, s"$out/data", s"$out/manifest",
      probe, footerBlooms = true)
    require(base.readFiles == base.manifestFiles,
      "the shipdate-clustered manifest must be blind to an orderkey probe")
    require(bloomed.readFiles < base.readFiles,
      s"blooms must prune: ${bloomed.readFiles} of ${base.readFiles}")
    Skipping.read(spark, s"$out/data", s"$out/manifest", probe,
        footerBlooms = true)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"),
        round(sum("l_quantity"), 2).as("qty"))
      .orderBy("l_orderkey")
  }, Some(
    """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_extendedprice), 2) AS rev,
      |  round(sum(l_quantity), 2) AS qty
      |FROM lineitem
      |WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
      |GROUP BY 1 ORDER BY l_orderkey""".stripMargin))

  /** YAML-DECLARED STREAMING DEDUP (`stream_lane: dedup`): q74's
    * watermarked exactly-once key dedup composed with the increment
    * landing, every moving part in the manifest. The feed carries the
    * content fingerprint ([[graft.functions.TextFunctions.fingerprint]]
    * — q74's fixture discipline), the SQL transform projects the key
    * in-stream, the lane drops within-watermark duplicates, and
    * per-batch increments land append-only. Held to q74's DISTINCT
    * oracle: the streaming machinery and the duplicate feed must be
    * invisible.
    */
  val q226 = QueryDef("q226_yaml_stream_dedup", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q226")
    val docs = t(spark, dir, "documents").select(col("doc_id"),
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("fp")))
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .coalesce(1).write.parquet(s"$out/feed")
    val yml =
      s"""jobs:
         |  dedup_docs:
         |    inputs:
         |      src: {path: $out/feed}
         |    output: {path: $out/sink, inc_field: ts}
         |    sql: "SELECT fp, ts FROM src"
         |    params:
         |      stream_lane: dedup
         |      ts_col: ts
         |      keys: fp
         |      watermark: 1 second
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/job.yml"),
      yml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val job = graft.core.model.Manifest.loadFile(s"$out/job.yml")
      .jobs("dedup_docs")
    graft.streaming.Streams.withStatePartitions(spark, 8) {
      graft.engine.StreamRun.runOnce(spark, job, s"$out/ckpt", now = "s1")
    }
    spark.read.parquet(s"$out/sink/inc_*").select("fp").orderBy("fp")
  }, Some(
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents
      |  WHERE doc_id % 7 = 0)
      |SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |FROM corpus ORDER BY fp""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(q220, q221, q222, q223, q224, q225, q226)
}
