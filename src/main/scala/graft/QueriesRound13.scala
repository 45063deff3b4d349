package graft

import org.apache.spark.sql.functions._
import graft.Queries.QueryDef

/** Round-13 widening: the streaming YAML surface closes its last two
  * asymmetries with the batch surface — the watermarked stream-stream
  * join becomes manifest-declarable (`stream_lane: join`, q227), and the
  * persisted retrieval indexes (BM25, IVF-PQ) gain streaming ingest
  * lanes (`bm25_ingest`/`pq_ingest`, q228/q229) riding their
  * at-least-once batch append protocols.
  */
object QueriesRound13 {

  private def t(spark: org.apache.spark.sql.SparkSession, dir: String,
                name: String) = graft.core.Tables.load(spark, dir, name)

  /** YAML-DECLARED STREAM-STREAM JOIN (`stream_lane: join` in
    * [[graft.engine.StreamRun]]): q84's watermarked purchase×click join
    * — clicks within the 4 hours before a purchase by the same user —
    * declared entirely in a manifest: two file-source inputs, the lane
    * params naming the left side / key / event-time columns / watermark
    * + bound, an incremental output. The joined rows land as
    * delete-first increments; the oracle is q84's batch join verbatim —
    * the streaming machinery must be invisible in the result. Each side
    * arrives as ONE file so the whole fixture joins in one micro-batch
    * (the q84 discipline: multi-batch inner joins are exercised where
    * arrival order is controlled; here the gate is the DECLARATIVE
    * surface reaching the same lane).
    */
  val q227 = QueryDef("q227_yaml_stream_join", (spark, dir) => {
    val out = Queries.tmpDir("graft_q227")
    val ev = t(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
        col("user_id"))
      .coalesce(1).write.parquet(s"$out/purchase")
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
        col("user_id"))
      .coalesce(1).write.parquet(s"$out/click")
    val yml =
      s"""jobs:
         |  join_clicks:
         |    inputs:
         |      purchases: {path: $out/purchase}
         |      clicks: {path: $out/click}
         |    output: {path: $out/sink, inc_field: purchase_id}
         |    params:
         |      stream_lane: join
         |      left: purchases
         |      key: user_id
         |      left_ts: p_ts
         |      right_ts: c_ts
         |      watermark: 1 hour
         |      within: 4 hours
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/job.yml"),
      yml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val job = graft.core.model.Manifest.loadFile(s"$out/job.yml")
      .jobs("join_clicks")
    graft.streaming.Streams.withStatePartitions(spark, 8) {
      graft.engine.StreamRun.runOnce(spark, job, s"$out/ckpt", now = "s1")
    }
    spark.read.parquet(s"$out/sink/inc_*")
      .select("purchase_id", "click_id", "user_id")
      .orderBy("purchase_id", "click_id")
  }, QueriesOps.q84.oracle)

  /** STREAMING BM25 INDEX MAINTENANCE (`stream_lane: bm25_ingest`):
    * the persisted inverted index built from the even docs GROWS with
    * the odd docs arriving as two micro-batches through a YAML-declared
    * stream — each batch rides [[graft.ops.Search.appendBm25Index]]'s
    * at-least-once append (anti-join fresh ids, bucketed postings
    * append, exact meta recount). The query then runs bucket-pruned
    * from the stream-grown index and is held to q142's full-recompute
    * oracle — the q147 discipline: the stream changes WHEN the index
    * grows, never the answer.
    */
  val q228 = QueryDef("q228_yaml_stream_bm25_ingest", (spark, dir) => {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    Seq("_postings", "_doclens", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS q228idx$s"))
    graft.ops.Search.writeBm25Index(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      "q228idx", numBuckets = 8)
    val out = Queries.tmpDir("graft_q228")
    docs.filter(col("doc_id") % 4 === 1).coalesce(1)
      .write.mode("append").parquet(s"$out/feed")
    docs.filter(col("doc_id") % 4 === 3).coalesce(1)
      .write.mode("append").parquet(s"$out/feed")
    val yml =
      s"""jobs:
         |  grow_bm25:
         |    inputs:
         |      src:
         |        path: $out/feed
         |        read_kwargs: {maxFilesPerTrigger: "1"}
         |    output: {path: $out/ingested}
         |    params:
         |      stream_lane: bm25_ingest
         |      index: q228idx
         |      id_col: doc_id
         |      text_col: text
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/job.yml"),
      yml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val job = graft.core.model.Manifest.loadFile(s"$out/job.yml")
      .jobs("grow_bm25")
    val batches = graft.streaming.Streams.withStatePartitions(spark, 8) {
      graft.engine.StreamRun.runOnce(spark, job, s"$out/ckpt", now = "s1")
    }
    require(batches == 2L,
      s"two feed files must drain as two micro-batches, got $batches")
    val ingested = spark.read.parquet(s"$out/ingested/batch*").count()
    val odd = docs.filter(col("doc_id") % 2 === 1).count()
    require(ingested == odd,
      s"ingest increments must cover the streamed docs: $ingested of $odd")
    graft.ops.Search.bm25TopKIndexed(spark,
        graft.ops.Search.loadBm25Index(spark, "q228idx"),
        QueriesAnalytics.bm25Queries(docs), "query_id", "qtext", k = 5)
      .orderBy("query_id", "rank")
  }, QueriesAnalytics.q142.oracle)

  private val q229Dir = QueriesScale.sidePath("q229_pq_stream")

  /** STREAMING IVF-PQ INDEX MAINTENANCE (`stream_lane: pq_ingest`):
    * q190's persisted index built from two thirds of the embeddings,
    * the last third STREAMED in as two micro-batches — each encoding
    * with the STORED codebook and assigning with the STORED centroids
    * via [[graft.ops.Pq.appendPqIndex]] (appends never retrain). The
    * oracle replays the full ADC ranking from the stored artifacts
    * (q190's form over this query's side dir) — pinning that the
    * stream-grown codes table is bit-identical in effect to the batch
    * append it rides.
    */
  val q229 = QueryDef("q229_yaml_stream_pq_ingest", (spark, dir) => {
    QueriesScale.reapStaleSideTables("q229_pq_stream")
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    graft.ops.Pq.writePqIndex(emb.filter(col("vec_id") % 3 =!= 0), q229Dir,
      m = 4, k = 16, cells = 16, seed = 42L)
    val out = Queries.tmpDir("graft_q229")
    emb.filter(col("vec_id") % 6 === 0).coalesce(1)
      .write.mode("append").parquet(s"$out/feed")
    emb.filter(col("vec_id") % 6 === 3).coalesce(1)
      .write.mode("append").parquet(s"$out/feed")
    val yml =
      s"""jobs:
         |  grow_pq:
         |    inputs:
         |      src:
         |        path: $out/feed
         |        read_kwargs: {maxFilesPerTrigger: "1"}
         |    output: {path: $out/ingested}
         |    params:
         |      stream_lane: pq_ingest
         |      index_dir: $q229Dir
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/job.yml"),
      yml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val job = graft.core.model.Manifest.loadFile(s"$out/job.yml")
      .jobs("grow_pq")
    val batches = graft.streaming.Streams.withStatePartitions(spark, 8) {
      graft.engine.StreamRun.runOnce(spark, job, s"$out/ckpt", now = "s1")
    }
    require(batches == 2L,
      s"two feed files must drain as two micro-batches, got $batches")
    val probes = emb.filter(col("vec_id") % 25 === 0)
    graft.ops.Pq.pqTopKIndexed(spark, q229Dir, probes, topk = 5)
      .select("probe_id", "cand_id", "adc_micro", "rank")
  }, Some(
    s"""WITH codes AS (SELECT cand_id, cell, codes
       |               FROM read_parquet('$q229Dir/codes/*/*.parquet',
       |                                 hive_partitioning = true)),
       |cb AS (SELECT sub, code, centroid
       |       FROM read_parquet('$q229Dir/codebook/*.parquet')),
       |p AS (SELECT c.cand_id AS probe_id, c.cell, e.embedding
       |      FROM codes c JOIN embeddings e ON e.vec_id = c.cand_id
       |      WHERE c.cand_id % 25 = 0),
       |t AS (SELECT probe_id, p.cell, sub, code,
       |        CAST(round(round(list_sum(list_transform(
       |          list_zip(embedding[(sub * 16 + 1):(sub * 16 + 16)], centroid),
       |          x -> (x[1]::DOUBLE - x[2]::DOUBLE) *
       |               (x[1]::DOUBLE - x[2]::DOUBLE))), 6) * 1e6, 0)
       |          AS BIGINT) AS d_micro
       |      FROM p, cb),
       |cl AS (SELECT cand_id, cell, codes,
       |         unnest(generate_series(1, len(codes))) AS i
       |       FROM codes),
       |cl2 AS (SELECT cand_id, cell, i - 1 AS sub, codes[i] AS code FROM cl),
       |s AS (SELECT probe_id, cand_id,
       |        CAST(sum(d_micro) AS BIGINT) AS adc_micro
       |      FROM cl2 JOIN t USING (cell, sub, code)
       |      WHERE probe_id <> cand_id
       |      GROUP BY probe_id, cand_id),
       |r AS (SELECT probe_id, cand_id, adc_micro,
       |        CAST(row_number() OVER (PARTITION BY probe_id
       |             ORDER BY adc_micro, cand_id) AS BIGINT) AS rank
       |      FROM s)
       |SELECT probe_id, cand_id, adc_micro, rank FROM r WHERE rank <= 5
       |ORDER BY probe_id, rank""".stripMargin))

  val all: Seq[QueryDef] = Seq(q227, q228, q229)
}
