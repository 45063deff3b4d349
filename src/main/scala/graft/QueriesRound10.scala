package graft

import org.apache.spark.sql.functions._
import graft.Queries.QueryDef

/** Round-10 widening: the drift family's remaining monitor lanes —
  * streaming KS partials and PERSISTED per-group references (q197/q205
  * previously rescanned every reference slice on every tick) — plus
  * planning-time file skipping (q212) and perceptual media near-dup
  * (q213).
  */
object QueriesRound10 {

  private def t(spark: org.apache.spark.sql.SparkSession, dir: String,
                name: String) = graft.core.Tables.load(spark, dir, name)

  /** STREAMING KS drift ([[graft.streaming.Streams.partialsSink]] with
    * [[graft.ops.Stats.ksCurrentPartial]] — q204's lane for the
    * distribution-free test): the current snapshot
    * replays through a file stream in three micro-batches, each
    * landing its mergeable distinct-value counts; the accumulated
    * partials score through [[graft.ops.Stats.ksFromPartials]] against
    * the stored reference and must be bit-identical to q189's batch
    * recompute — its oracle verbatim.
    */
  val q206 = QueryDef("q206_stream_ks_drift", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q206")
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_extendedprice").as("v"))
    graft.ops.Stats.writeKsReference(ref, "v", s"$out/ref")
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .select((col("l_extendedprice") * 1.02).as("v"),
        pmod(col("l_orderkey"), lit(3)).as("_chunk"))
    (0 until 3).foreach(i => cur.filter(col("_chunk") === i).drop("_chunk")
      .coalesce(1).write.mode("append").parquet(s"$out/feed"))
    val stream = spark.readStream.schema("v DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$out/feed")
    val q = graft.streaming.Streams.partialsSink(stream, s"$out/partials",
      s"$out/ckpt")(graft.ops.Stats.ksCurrentPartial(_, "v"))
    try q.processAllAvailable() finally q.stop()
    graft.ops.Stats.ksFromPartials(spark, s"$out/ref",
      spark.read.parquet(s"$out/partials/batch*"), buckets = 64)
  }, QueriesRound8.q189.oracle)

  /** Per-group PSI through a PERSISTED reference
    * ([[graft.ops.Stats.writePsiReference]] /
    * [[graft.ops.Stats.psiFromPartials]] with `groupCol`): q197's slice matrix
    * with the reference slices profiled ONCE — the monitor tick reads
    * only the current side, and the current side itself arrives as TWO
    * independent feeds whose integer partials merge order-free. Output
    * must be bit-identical to q197's full recompute — its oracle
    * verbatim.
    */
  val q207 = QueryDef("q207_psi_by_group_reference", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q207")
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
    graft.ops.Stats.writePsiReference(ref, "v", s"$out/ref", bins = 10,
      groupCol = Some("l_returnflag"))
    def feed(r: Int) = li.filter(col("l_orderkey") % 4 === r)
      .select(col("l_returnflag"),
        when(col("l_returnflag") === "R", col("l_extendedprice") * 1.1)
          .otherwise(col("l_extendedprice")).as("v"))
    val edges = graft.ops.Stats.loadPsiEdges(spark, s"$out/ref")
    def partial(r: Int) = graft.ops.Stats.psiCurrentPartial(feed(r), "v",
      edges, Some("l_returnflag"))
    val (pa, pb) = (partial(1), partial(3))
    graft.ops.Stats.psiFromPartials(spark, s"$out/ref", pa.unionByName(pb))
      .orderBy("group", "bucket")
  }, QueriesRound8.q197.oracle)

  /** Per-group exact KS through a PERSISTED reference
    * ([[graft.ops.Stats.writeKsReference]] /
    * [[graft.ops.Stats.ksFromPartials]] with `groupCol`): q205's slice matrix
    * with each slice's distinct-value counts stored once; the tick
    * contracts only the current side and must be bit-identical to
    * q205's full recompute — its oracle verbatim.
    */
  val q208 = QueryDef("q208_ks_by_group_reference", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q208")
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
    graft.ops.Stats.writeKsReference(ref, "v", s"$out/ref", Some("g"))
    def feed(r: Int) = li.filter(col("l_orderkey") % 4 === r)
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice") * 1.02).as("v"))
    val pa = graft.ops.Stats.ksCurrentPartial(feed(1), "v", Some("g"))
    val pb = graft.ops.Stats.ksCurrentPartial(feed(3), "v", Some("g"))
    graft.ops.Stats.ksFromPartials(spark, s"$out/ref",
        pa.unionByName(pb), buckets = 16)
      .orderBy("group")
  }, QueriesRound9.q205.oracle)

  private val q209MergePath = QueriesScale.sidePath("q209_token_merges")

  /** TOKEN-GRAIN ingest through the PERSISTED piece-shingle index
    * ([[graft.ops.Dedup.writeNearDupIndex]] with `merges` /
    * [[graft.ops.Dedup.dropNearDuplicatesAgainst]]) — q201's
    * steady-state escape: the corpus encodes ONCE at index-build time
    * (merges learned on the corpus, stored as part of the index), and
    * the q70-shaped delta ingest encodes only the delta. The oracle
    * replays the whole chain in DuckDB: the recursive BPE merge apply
    * over corpus ∪ delta, piece-5-gram shingles, the within-delta
    * exact-Jaccard collapse (keep-min via connected components), and
    * the cross corpus×delta drop — LSH at 64/16 has full recall at 0.8
    * (the q27/q70 contract), so the outputs are bit-identical.
    */
  val q209 = QueryDef("q209_token_neardup_index", (spark, dir) => {
    QueriesScale.reapStaleSideTables("q209_token_merges")
    graft.ops.IndexStore.dropTables(spark,
      Seq("_shingles", "_buckets", "_meta", "_tombstones", "_merges")
        .map("q209idx" + _))
    val (corpus, delta) = QueriesText.q70Corpus(spark, dir)
    graft.ops.Bpe.learn(corpus, "text", numMerges = 20)
      .write.mode("overwrite").parquet(q209MergePath)
    val idx = graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text",
      "q209idx", n = 5, numBuckets = 8,
      merges = Some(spark.read.parquet(q209MergePath)))
    graft.ops.Dedup.dropNearDuplicatesAgainst(idx, delta, "doc_id", "text",
        threshold = 0.8, maxBandFreq = None, appendAccepted = true)
      .orderBy("doc_id")
  }, Some(tokenIngestOracle(q209MergePath)))

  /** The full-chain DuckDB replay of the token-grain ingest (q209, and
    * the streaming twin q222): recursive BPE merge apply over
    * corpus ∪ delta, piece-5-gram shingles, within-delta exact-Jaccard
    * keep-min collapse, cross corpus×delta drop. Parameterized on the
    * merge-table parquet path so each query's oracle reads the merges
    * ITS run learned and stored.
    */
  private[graft] def tokenIngestOracle(mergePath: String): String =
    s"""WITH RECURSIVE m AS (SELECT rank, lhs, rhs
       |           FROM read_parquet('$mergePath/*.parquet')),
       |nm AS (SELECT max(rank) AS top FROM m),
       |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |          UNION ALL
       |          SELECT doc_id + 300000, text || ' extra trailing words here'
       |          FROM documents WHERE doc_id % 20 = 0),
       |alldocs AS (SELECT doc_id, text, 'c' AS side FROM corpus
       |            UNION ALL SELECT doc_id, text, 'd' FROM delta),
       |spl AS (SELECT doc_id, string_split(lower(text), ' ') AS l
       |        FROM alldocs),
       |tk AS (SELECT doc_id, i AS pos, l[i] AS term
       |       FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
       |             FROM spl)
       |       WHERE l[i] <> ''),
       |enc(doc_id, pos, s, step) AS (
       |  SELECT doc_id, pos,
       |    array_to_string(list_transform(string_split(term, ''),
       |      c -> chr(17) || c || chr(18)), ''), 0
       |  FROM tk
       |  UNION ALL
       |  SELECT e.doc_id, e.pos,
       |    replace(e.s, chr(17) || m.lhs || chr(18) || chr(17) || m.rhs || chr(18),
       |      chr(17) || m.lhs || m.rhs || chr(18)),
       |    e.step + 1
       |  FROM enc e JOIN m ON m.rank = e.step + 1),
       |fin AS (SELECT doc_id, pos,
       |          replace(replace(replace(s, chr(18) || chr(17), ','),
       |            chr(17), ''), chr(18), '') AS word_csv
       |        FROM enc WHERE step = (SELECT top FROM nm)),
       |pieces AS (SELECT doc_id,
       |             string_split(string_agg(word_csv, ',' ORDER BY pos), ',')
       |               AS p
       |           FROM fin GROUP BY doc_id),
       |sh0 AS (SELECT DISTINCT doc_id, array_to_string(p[i:i+4], ' ') AS shingle
       |        FROM (SELECT doc_id, p,
       |                unnest(generate_series(1, len(p) - 4)) AS i
       |              FROM pieces WHERE len(p) >= 5)),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
       |          FROM sh0 GROUP BY doc_id),
       |dsh AS (SELECT sh0.doc_id, shingle FROM sh0
       |        JOIN alldocs a ON a.doc_id = sh0.doc_id AND a.side = 'd'),
       |csh AS (SELECT sh0.doc_id, shingle FROM sh0
       |        JOIN alldocs a ON a.doc_id = sh0.doc_id AND a.side = 'c'),
       |dinter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |             count(*) AS n_inter
       |           FROM dsh a JOIN dsh b
       |             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2),
       |dpairs AS (SELECT a_id, b_id FROM dinter
       |           JOIN sizes sa ON sa.doc_id = dinter.a_id
       |           JOIN sizes sb ON sb.doc_id = dinter.b_id
       |           WHERE CAST(n_inter AS DOUBLE)
       |             / (sa.n_sh + sb.n_sh - n_inter) >= 0.8),
       |edges AS (SELECT a_id AS s, b_id AS d FROM dpairs
       |          UNION ALL SELECT b_id, a_id FROM dpairs),
       |walk(id, lbl) AS (
       |  SELECT s, s FROM edges GROUP BY s
       |  UNION
       |  SELECT e.s, walk.lbl FROM edges e JOIN walk ON walk.id = e.d),
       |comp AS (SELECT id, min(lbl) AS comp FROM walk GROUP BY id),
       |dkeep AS (SELECT doc_id, text FROM delta
       |          WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> comp)),
       |ksh AS (SELECT doc_id, shingle FROM dsh
       |        WHERE doc_id IN (SELECT doc_id FROM dkeep)),
       |xinter AS (SELECT c.doc_id AS c_id, k.doc_id AS d_id,
       |             count(*) AS n_inter
       |           FROM csh c JOIN ksh k ON c.shingle = k.shingle
       |           GROUP BY 1, 2),
       |xdrop AS (SELECT DISTINCT d_id FROM xinter
       |          JOIN sizes cs ON cs.doc_id = xinter.c_id
       |          JOIN sizes ds ON ds.doc_id = xinter.d_id
       |          WHERE CAST(n_inter AS DOUBLE)
       |            / (cs.n_sh + ds.n_sh - n_inter) >= 0.8)
       |SELECT doc_id, text FROM dkeep
       |WHERE doc_id NOT IN (SELECT d_id FROM xdrop)
       |ORDER BY doc_id""".stripMargin

  /** STREAMING weighted reservoir
    * ([[graft.streaming.Streams.partialsSink]] with
    * [[graft.ops.Sampling.reservoirPartial]]): q139's
    * per-source length-weighted top-10, maintained over a file stream
    * in three micro-batches. Each batch lands its own per-group top-n
    * partial under the deterministic E-S key; the merged reservoir must
    * be bit-identical to the batch sampler over the whole feed — q139's
    * oracle verbatim (the associativity of deterministic-key top-n is
    * the claim under test).
    */
  val q210 = QueryDef("q210_stream_reservoir", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q210")
    val docs = t(spark, dir, "documents")
      .select("doc_id", "source", "n_chars")
      .withColumn("_chunk", pmod(col("doc_id"), lit(3)))
    (0 until 3).foreach(i => docs.filter(col("_chunk") === i).drop("_chunk")
      .coalesce(1).write.mode("append").parquet(s"$out/feed"))
    val stream = spark.readStream
      .schema("doc_id BIGINT, source STRING, n_chars BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(s"$out/feed")
    val q = graft.streaming.Streams.partialsSink(stream, s"$out/partials",
      s"$out/ckpt")(graft.ops.Sampling.reservoirPartial(_, "doc_id",
        "source", "n_chars", n = 10))
    try q.processAllAvailable() finally q.stop()
    graft.streaming.Streams.loadReservoir(spark, s"$out/partials",
        "doc_id", "source", n = 10)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("key_micro"), col("rank").cast("long").as("rank"))
      .orderBy("source", "rank")
  }, QueriesCurate.q139.oracle)

  /** INCREMENTAL cluster maintenance
    * ([[graft.ops.Dedup.updateClusters]]): q51's near-dup pair set
    * arrives in two waves; wave 1 clusters from scratch, wave 2 folds
    * into the standing labels through the labels-as-star-edges
    * contraction — never re-reading wave 1's edges. The final labels
    * must be bit-identical to the full recompute over all pairs —
    * q51's oracle verbatim (bridges that merge two wave-1 components
    * are the case under test: the wave split is by edge parity, so
    * chains alternate waves).
    */
  val q211 = QueryDef("q211_incremental_clusters", (spark, dir) => {
    val pairs = graft.ops.Dedup.jaccardPairs(t(spark, dir, "documents"),
        "doc_id", "text", threshold = 0.6, maxShingleFreq = Some(50))
      .select("a_id", "b_id")
      .localCheckpoint() // pairing runs once; the waves slice it
    val wave1 = pairs.filter(pmod(col("a_id") + col("b_id"), lit(2)) === 0)
    val wave2 = pairs.filter(pmod(col("a_id") + col("b_id"), lit(2)) === 1)
    val labels1 = graft.ops.Dedup.connectedComponents(wave1)
    graft.ops.Dedup.updateClusters(labels1, wave2)
      .select(col("id").as("doc_id"), col("comp"))
      .orderBy("doc_id")
  }, QueriesScale.q51.oracle)

  /** PLANNING-TIME FILE SKIPPING ([[graft.core.io.Skipping]]): lineitem
    * range-clusters on `l_orderkey` ([[graft.ops.Layout.rangeSortedWrite]]),
    * a one-pass min/max manifest profiles the files, and the scan reads
    * only files the (orderkey, shipdate) conjunction cannot rule out —
    * the Delta-style pruning plain parquet lacks (footer pushdown still
    * opens every file at plan time; at ~1M files the listing/footer
    * round-trips dominate a selective query). The query requires that
    * pruning actually dropped files, so a silently-degraded manifest
    * fails loudly rather than passing on the conservative fallback; the
    * oracle is the plain row-level filter — pruning must be invisible in
    * the result.
    */
  val q212 = QueryDef("q212_pruned_scan", (spark, dir) => {
    import graft.core.io.Skipping
    val out = graft.Queries.tmpDir("graft_q212")
    val li = t(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_shipdate")
    graft.ops.Layout.rangeSortedWrite(li, col("l_orderkey"),
      s"$out/data", numFiles = 12)
    Skipping.writeStatsManifest(spark, s"$out/data",
      Seq("l_orderkey", "l_shipdate"), s"$out/manifest")
    val ranges = Seq(
      Skipping.ColumnRange("l_orderkey", Some(1000L), Some(2999L)),
      Skipping.ColumnRange("l_shipdate", None, Some("1996-12-31")))
    val pruned = Skipping.pruneFiles(spark, s"$out/data", s"$out/manifest",
      ranges)
    require(pruned.readFiles < pruned.manifestFiles,
      s"range-clustered layout must prune: read ${pruned.readFiles} of " +
        s"${pruned.manifestFiles}")
    Skipping.read(spark, s"$out/data", s"$out/manifest", ranges)
      .agg(count(lit(1)).as("n_rows"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"))
  }, Some(
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  round(sum(l_extendedprice), 2) AS sum_price,
      |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
      |FROM lineitem
      |WHERE l_orderkey BETWEEN 1000 AND 2999
      |  AND l_shipdate <= DATE '1996-12-31'""".stripMargin))

  /** MEDIA NEAR-DUP ([[graft.ops.Multimodal.aHash]] →
    * [[graft.ops.Dedup.simhashPairsFrom]]): the LAION-style image-dedup
    * chain over opaque payloads — perceptual average-hash fingerprints,
    * 4-band hamming blocking, distance ≤ 3 pairs. The corpus is every
    * document's byte payload plus a perturbed clone of every 10th (two
    * appended bytes — the "re-encoded copy" shape). Unlike q28's
    * engine-native xxhash64 SimHash, aHash is integer-exact
    * (cross-multiplied block sums), so the oracle replays the ENTIRE
    * chain from `hex(payload)` — fingerprint bits included, not just the
    * pairing — and the banding's recall contract is verified against a
    * full O(n²) DuckDB join.
    */
  val q213 = QueryDef("q213_media_neardup", (spark, dir) => {
    val docs = t(spark, dir, "documents")
    val base = docs.select(col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"))
    val delta = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        encode(concat(col("text"), lit(" .")), "UTF-8").as("payload"))
    val media = base.unionByName(delta).filter(length(col("payload")) > 0)
    val fp = graft.ops.Multimodal.aHash(media, "doc_id", "payload")
    graft.ops.Dedup.simhashPairsFrom(fp.select("doc_id", "simhash"),
        maxDist = 3)
      .orderBy("a_id", "b_id")
  }, Some(
    """WITH media AS (
      |  SELECT doc_id, encode(text) AS b FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, encode(text || ' .')
      |  FROM documents WHERE doc_id % 10 = 0),
      |h AS (SELECT doc_id, hex(b) AS hx, octet_length(b) AS n FROM media
      |      WHERE octet_length(b) > 0),
      |byte AS (
      |  SELECT doc_id, n, i, CAST('0x' || substr(hx, 2 * i + 1, 2) AS INT) AS v
      |  FROM (SELECT doc_id, hx, n, unnest(generate_series(0, n - 1)) AS i
      |        FROM h)),
      |blk AS (SELECT doc_id, n,
      |          CAST(floor(i / CAST(ceil(n / 63.0) AS INT)) AS INT) AS j, v
      |        FROM byte),
      |tot AS (SELECT doc_id, n, CAST(sum(v) AS BIGINT) AS s_all
      |        FROM blk GROUP BY 1, 2),
      |bsum AS (SELECT doc_id, j, CAST(sum(v) AS BIGINT) AS s_j,
      |           CAST(count(*) AS BIGINT) AS c_j
      |         FROM blk GROUP BY 1, 2),
      |fp AS (SELECT b.doc_id,
      |         CAST(COALESCE(sum(CASE WHEN b.s_j * t.n > t.s_all * b.c_j
      |           THEN (1::BIGINT << b.j) ELSE 0 END), 0) AS BIGINT) AS simhash
      |       FROM bsum b JOIN tot t ON t.doc_id = b.doc_id
      |       GROUP BY b.doc_id),
      |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |            CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
      |          FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
      |SELECT a_id, b_id, dist FROM pairs WHERE dist <= 3
      |ORDER BY a_id, b_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(q206, q207, q208, q209, q210, q211, q212,
    q213)
}
