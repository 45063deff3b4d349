package graft

import org.apache.spark.sql.functions._
import graft.Queries.QueryDef

/** Round-11 widening: planning-time skipping wired into the DATA PATH —
  * a YAML input attr (`skip_manifest`/`skip_ranges`) routes loads
  * through [[graft.core.io.Skipping.read]] and incremental period
  * filters prune files at plan time (q214); IN-list pruning beats the
  * range hull on point probes (q215).
  */
object QueriesRound11 {

  private def t(spark: org.apache.spark.sql.SparkSession, dir: String,
                name: String) = graft.core.Tables.load(spark, dir, name)

  /** YAML-DRIVEN PRUNED INCREMENTAL READ (the `skip_manifest` seam,
    * [[graft.core.io.Reader.skipPredicates]]): lineitem lands
    * shipdate-range-clustered with a WRITE-TIME footer manifest
    * ([[graft.ops.Layout.rangeSortedWrite]]'s `statsManifest`), and an
    * incremental job declared ENTIRELY in YAML reads it back one period
    * per pass. Each pass's `inc_field` period window becomes a
    * planning-time file prune — the reference re-lists and re-opens the
    * whole input folder every period (yaetos/etl_utils.py
    * FS_Ops_Dispatcher); here a day's pass plans a scan over ~1 of the
    * layout's files, which is the difference between an incremental
    * tick costing O(day) and O(history) at 100 TB. The query REQUIRES
    * the per-period scan to have pruned (a silently degraded manifest
    * fails loudly); the oracle is the plain three-day slice — pruning
    * must be invisible in the result.
    */
  val q214 = QueryDef("q214_yaml_pruned_incremental", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q214")
    val li = t(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
    graft.ops.Layout.rangeSortedWrite(li, col("l_shipdate"), s"$out/data",
      numFiles = 12, tiebreak = Seq(col("l_orderkey")),
      statsManifest = Some(s"$out/manifest"), statsCols = Seq("l_shipdate"))
    val yml =
      s"""jobs:
         |  daily_rev:
         |    inputs:
         |      li:
         |        path: $out/data
         |        inc_field: l_shipdate
         |        skip_manifest: $out/manifest
         |    output: {path: $out/sink, inc_field: l_shipdate}
         |    sql: "SELECT l_shipdate, l_orderkey, l_quantity,
         |      l_extendedprice FROM li"
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/job.yml"),
      yml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val job = graft.core.model.Manifest.loadFile(s"$out/job.yml")
      .jobs("daily_rev")
    // files-read gate: one period's pass must plan a pruned scan
    val total = spark.read.parquet(s"$out/data").inputFiles.length
    val probe = graft.engine.Etl.runJob(spark, job,
      period = Some("1995-06-02"), save = false)
    require(probe.df.inputFiles.length < total,
      s"period pass must prune: read ${probe.df.inputFiles.length} of $total")
    graft.engine.MultiPass.run(spark, job,
      java.time.LocalDate.parse("1995-06-01"),
      java.time.LocalDate.parse("1995-06-03"), now = "r1")
    spark.read.parquet(s"$out/sink/inc_*")
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

  /** IN-LIST FILE PRUNING ([[graft.core.io.Skipping.ColumnIn]]): three
    * point probes over an orderkey-range-clustered layout read ~one
    * file per probe, while the equivalent RANGE HULL (min..max of the
    * probes) spans every file — the gate requires the IN-list to beat
    * the hull, so point-lookup pruning is proven, not assumed. Probe
    * keys derive from the data (min / midpoint / max) so the gate holds
    * at every scale factor; the oracle recomputes them as subqueries.
    */
  val q215 = QueryDef("q215_inlist_pruned_scan", (spark, dir) => {
    import graft.core.io.Skipping
    val out = graft.Queries.tmpDir("graft_q215")
    val li = t(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    graft.ops.Layout.rangeSortedWrite(li, col("l_orderkey"), s"$out/data",
      numFiles = 12, tiebreak = Seq(col("l_orderkey")),
      statsManifest = Some(s"$out/manifest"), statsCols = Seq("l_orderkey"))
    val Array(lo, hi) = li.agg(min("l_orderkey"), max("l_orderkey"))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val keys = Seq(lo, (lo + hi) / 2, hi)
    val pIn = Skipping.pruneFiles(spark, s"$out/data", s"$out/manifest",
      Seq(Skipping.ColumnIn("l_orderkey", keys)))
    val pHull = Skipping.pruneFiles(spark, s"$out/data", s"$out/manifest",
      Seq(Skipping.ColumnRange("l_orderkey", Some(lo), Some(hi))))
    require(pIn.readFiles < pHull.readFiles,
      s"IN-list must beat the range hull: ${pIn.readFiles} vs " +
        s"${pHull.readFiles} of ${pHull.manifestFiles}")
    Skipping.read(spark, s"$out/data", s"$out/manifest",
        Seq(Skipping.ColumnIn("l_orderkey", keys)))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
      .orderBy("l_orderkey")
  }, Some(
    """WITH b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi
      |           FROM lineitem)
      |SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_extendedprice), 2) AS rev
      |FROM lineitem, b
      |WHERE l_orderkey IN (b.lo, (b.lo + b.hi) // 2, b.hi)
      |GROUP BY 1 ORDER BY l_orderkey""".stripMargin))

  /** STREAMING per-group PSI drift
    * ([[graft.streaming.Streams.partialsSink]] with
    * [[graft.ops.Stats.psiCurrentPartial]]): q197's slice
    * matrix maintained continuously — the reference slices profile ONCE
    * ([[graft.ops.Stats.writePsiReference]] with `groupCol`), the current side
    * replays through a file stream in three micro-batches, each landing
    * its `(group, bucket, n_cur)` integer partial; the accumulated
    * partials score bit-identically to q197's full batch recompute —
    * its oracle verbatim.
    */
  val q216 = QueryDef("q216_stream_psi_by_group", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q216")
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
    graft.ops.Stats.writePsiReference(ref, "v", s"$out/ref", bins = 10,
      groupCol = Some("l_returnflag"))
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .select(col("l_returnflag"),
        when(col("l_returnflag") === "R", col("l_extendedprice") * 1.1)
          .otherwise(col("l_extendedprice")).as("v"),
        pmod(col("l_orderkey"), lit(3)).as("_chunk"))
    (0 until 3).foreach(i => cur.filter(col("_chunk") === i).drop("_chunk")
      .coalesce(1).write.mode("append").parquet(s"$out/feed"))
    val stream = spark.readStream.schema("l_returnflag STRING, v DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$out/feed")
    val edges = graft.ops.Stats.loadPsiEdges(spark, s"$out/ref")
    val q = graft.streaming.Streams.partialsSink(stream, s"$out/partials",
      s"$out/ckpt")(graft.ops.Stats.psiCurrentPartial(_, "v", edges,
        Some("l_returnflag")))
    try q.processAllAvailable() finally q.stop()
    graft.ops.Stats.psiFromPartials(spark, s"$out/ref",
        spark.read.parquet(s"$out/partials/batch*"))
      .orderBy("group", "bucket")
  }, QueriesRound8.q197.oracle)

  /** STREAMING per-group exact KS drift
    * ([[graft.streaming.Streams.partialsSink]] with
    * [[graft.ops.Stats.ksCurrentPartial]]): q205's slice
    * matrix maintained continuously over the per-group stored value
    * counts; three micro-batches of mergeable `(g, v, n_cur)` partials
    * must score bit-identically to q205's full batch recompute — its
    * oracle verbatim.
    */
  val q217 = QueryDef("q217_stream_ks_by_group", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q217")
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
    graft.ops.Stats.writeKsReference(ref, "v", s"$out/ref", Some("g"))
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice") * 1.02).as("v"),
        pmod(col("l_orderkey"), lit(3)).as("_chunk"))
    (0 until 3).foreach(i => cur.filter(col("_chunk") === i).drop("_chunk")
      .coalesce(1).write.mode("append").parquet(s"$out/feed"))
    val stream = spark.readStream.schema("g STRING, v DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$out/feed")
    val q = graft.streaming.Streams.partialsSink(stream, s"$out/partials",
      s"$out/ckpt")(graft.ops.Stats.ksCurrentPartial(_, "v", Some("g")))
    try q.processAllAvailable() finally q.stop()
    graft.ops.Stats.ksFromPartials(spark, s"$out/ref",
        spark.read.parquet(s"$out/partials/batch*"), buckets = 16)
      .orderBy("group")
  }, QueriesRound9.q205.oracle)

  /** PIXEL-GRAIN PERCEPTUAL HASH ([[graft.functions.AHash64]] via
    * [[graft.ops.Multimodal.aHashPixel]]): every document becomes a
    * real grayscale PNG with PLANTED pixel values (a closed-form
    * function of `(doc_id, x, y)` — the q180 planted-fixture
    * discipline, applied to pixels), the codegen'd expression DECODES
    * the image and hashes the 8×8 mean-luma grid, and the oracle
    * recomputes every bit from the closed form alone — no decoding in
    * SQL, yet the full decode→downsample→threshold chain is verified
    * bit-for-bit because PNG is lossless and the hash is integer-exact.
    * This is q213's byte-grain stand-in promoted to pixels: the
    * fingerprint now survives re-encoding (AHash64Spec pins PNG↔BMP).
    */
  val q218 = QueryDef("q218_pixel_ahash", (spark, dir) => {
    val pngUdf = udf((id: Long) => graft.ops.Multimodal.grayPng(
      (8 + id % 9).toInt, (8 + id % 7).toInt,
      (x, y) => ((id * 31 + x * 7 + y * 13) % 251).toInt))
    val media = t(spark, dir, "documents")
      .select(col("doc_id"), pngUdf(col("doc_id")).as("payload"))
    graft.ops.Multimodal.aHashPixel(media, "doc_id", "payload")
      .select("doc_id", "simhash")
      .orderBy("doc_id")
  }, Some(
    """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      |           FROM documents),
      |px AS (SELECT d.doc_id, d.w, d.h, xs.x, ys.y,
      |         (d.doc_id * 31 + xs.x * 7 + ys.y * 13) % 251 AS v
      |       FROM d, range(0, 17) xs(x), range(0, 15) ys(y)
      |       WHERE xs.x < d.w AND ys.y < d.h),
      |cells AS (SELECT doc_id, ((y * 8) // h) * 8 + (x * 8) // w AS c,
      |            sum(v) AS cs, count(*) AS cc
      |          FROM px GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(v) AS total, count(*) AS n
      |        FROM px GROUP BY 1)
      |SELECT cells.doc_id,
      |  bit_or(CASE WHEN c < 63 AND cs * n > total * cc
      |              THEN 1::BIGINT << c ELSE 0::BIGINT END) AS simhash
      |FROM cells JOIN tot ON tot.doc_id = cells.doc_id
      |GROUP BY 1 ORDER BY cells.doc_id""".stripMargin))

  /** CONTINUOUS CLUSTER MAINTENANCE in the streaming near-dup ingest
    * ([[graft.streaming.Streams.nearDupSink]] with `clustersPath`):
    * q101's stream (q70's delta in two micro-batches against the
    * indexed corpus) now also folds each batch's discovered pairs into
    * a persisted `(id, comp)` table — q211's incremental fold run from
    * inside the sink, over only the components each batch's pairs
    * touch. The oracle is the
    * q51-pattern full recompute RESTRICTED TO THE DISCOVERED EDGE
    * CONTRACT: exact-Jaccard pairs over corpus∪delta, minus
    * corpus-internal pairs (no ingest observes them), minus pairs
    * between a batch-1 doc the ingest DROPPED and a batch-2 doc — a
    * dropped doc never enters the index, so a later batch cannot
    * discover similarity to it ([[graft.streaming.Streams]]
    * applyNearDupBatch docstring). A dropped doc's OWN within-batch and
    * corpus edges are observed (cross-pairing runs over the full batch
    * before the drop), so the excluded set is exactly dropped-b1 × b2.
    * The SQL replays the drop decision: a b1 doc is dropped iff it is a
    * non-min member of a within-b1 component or pairs with the corpus.
    * With the contract mirrored, the oracle holds at ANY scale factor
    * or threshold — not just fixtures where cross pairs hit the corpus.
    * Recursive-CTE components plus a self-label for every streamed
    * singleton; the streamed fold must match bit for bit.
    */
  val q219 = QueryDef("q219_stream_neardup_clusters", (spark, dir) => {
    val (corpus, delta) = QueriesText.q70Corpus(spark, dir)
    Seq("_shingles", "_buckets", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS q219idx$s"))
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", "q219idx",
      numBuckets = 8)
    val out = graft.Queries.tmpDir("graft_q219")
    delta.filter(col("doc_id") < 300000).coalesce(1)
      .write.mode("append").parquet(s"$out/in")
    delta.filter(col("doc_id") >= 300000).coalesce(1)
      .write.mode("append").parquet(s"$out/in")
    val stream = graft.streaming.Streams.readFileStream(spark,
      graft.core.model.DatasetSpec(path = s"$out/in", format = "parquet",
        readOptions = Map("maxFilesPerTrigger" -> "1")),
      "doc_id BIGINT, text STRING")
    graft.streaming.Streams.withStatePartitions(spark, 8) {
      val q = graft.streaming.Streams.nearDupSink(stream, "q219idx",
        "doc_id", "text", threshold = 0.8, maxBandFreq = None,
        acceptedPath = s"$out/acc", checkpoint = s"$out/ckpt",
        clustersPath = Some(s"$out/clusters"))
      try q.processAllAvailable() finally q.stop()
    }
    graft.streaming.Streams.loadClusters(spark, s"$out/clusters")
      .orderBy("id")
  }, Some(
    s"""WITH RECURSIVE
       |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |          UNION ALL
       |          SELECT doc_id + 300000, text || ' extra trailing words here'
       |          FROM documents WHERE doc_id % 20 = 0),
       |scope AS (SELECT * FROM corpus UNION ALL SELECT * FROM delta),
       |${QueriesScale.duckShingles("scope")},
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |            count(*) AS n_inter
       |          FROM sh a JOIN sh b
       |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT a_id, b_id FROM inter
       |          JOIN sizes sa ON sa.doc_id = inter.a_id
       |          JOIN sizes sb ON sb.doc_id = inter.b_id
       |          WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
       |            >= 0.8),
       |b1pairs AS (SELECT a_id, b_id FROM pairs
       |            WHERE a_id % 2 = 1 AND a_id < 300000
       |              AND b_id % 2 = 1 AND b_id < 300000),
       |b1edges AS (SELECT a_id AS s, b_id AS d FROM b1pairs
       |            UNION ALL SELECT b_id, a_id FROM b1pairs),
       |b1walk(id, lbl) AS (
       |  SELECT s, s FROM b1edges GROUP BY s
       |  UNION
       |  SELECT e.s, b1walk.lbl FROM b1edges e JOIN b1walk
       |    ON b1walk.id = e.d),
       |b1dropped AS (
       |  SELECT id FROM (SELECT id, min(lbl) AS comp FROM b1walk
       |                  GROUP BY id) t
       |  WHERE t.id <> t.comp
       |  UNION
       |  SELECT CASE WHEN a_id % 2 = 1 THEN a_id ELSE b_id END AS id
       |  FROM pairs
       |  WHERE a_id < 300000 AND b_id < 300000
       |    AND (a_id % 2) <> (b_id % 2)),
       |kept AS (SELECT a_id, b_id FROM pairs
       |         WHERE NOT (a_id % 2 = 0 AND a_id < 300000
       |                AND b_id % 2 = 0 AND b_id < 300000)
       |           AND NOT (b_id >= 300000 AND
       |                    a_id IN (SELECT id FROM b1dropped))
       |           AND NOT (a_id >= 300000 AND
       |                    b_id IN (SELECT id FROM b1dropped))),
       |edges AS (SELECT a_id AS s, b_id AS d FROM kept
       |          UNION ALL SELECT b_id, a_id FROM kept),
       |walk(id, lbl) AS (
       |  SELECT s, s FROM edges GROUP BY s
       |  UNION
       |  SELECT e.s, walk.lbl FROM edges e JOIN walk ON walk.id = e.d),
       |comp AS (SELECT id, min(lbl) AS comp FROM walk GROUP BY id)
       |SELECT id, comp FROM comp
       |UNION ALL
       |SELECT doc_id AS id, doc_id AS comp FROM delta
       |WHERE doc_id NOT IN (SELECT id FROM comp)
       |ORDER BY id""".stripMargin))

  val all: Seq[QueryDef] = Seq(q214, q215, q216, q217, q218, q219)
}
