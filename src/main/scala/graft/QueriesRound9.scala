package graft

import org.apache.spark.sql.functions._
import graft.Queries.QueryDef

/** Round-9 widening: GDPR tombstone lanes for the remaining persisted
  * indexes (BM25 and PQ — the q178/q181 protocol completed across every
  * corpus-derived persisted artifact).
  */
object QueriesRound9 {

  private def t(spark: org.apache.spark.sql.SparkSession, dir: String,
                name: String) = graft.core.Tables.load(spark, dir, name)

  /** BM25-index GDPR vacuum ([[graft.ops.Search.vacuumBm25Index]], NO
    * compact): after the forget ids (with their captured doc lengths)
    * append to the tombstone table, the indexed ranking must already be
    * BIT-IDENTICAL to an index rebuilt without the forgotten docs —
    * postings hidden, document frequency recounted from the visible
    * postings, and the corpus stats derived as `meta − Σ tombstoned dl`
    * (exact integer subtraction). The oracle is q142's BM25 replay with
    * the forgotten docs excluded from the corpus; the QUERY set stays
    * the full one (a forgotten doc may still be queried for — it must
    * simply never be returned). File identity (zero rewrites) is
    * spec-asserted in SearchIndexSpec; the ranking semantics hash-gate
    * here.
    */
  val q198 = QueryDef("q198_bm25_vacuum", (spark, dir) => {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    graft.ops.IndexStore.dropTables(spark,
      Seq("_postings", "_doclens", "_meta", "_tombstones").map("q198idx" + _))
    graft.ops.Search.writeBm25Index(docs, "doc_id", "text", "q198idx",
      numBuckets = 8)
    graft.ops.Search.vacuumBm25Index(spark, "q198idx",
      docs.filter(col("doc_id") % 31 === 0).select("doc_id"))
    graft.ops.Search.bm25TopKIndexed(spark,
        graft.ops.Search.loadBm25Index(spark, "q198idx"),
        QueriesAnalytics.bm25Queries(docs), "query_id", "qtext", k = 5)
      .orderBy("query_id", "rank")
  }, Some(QueriesAnalytics.bm25OracleCte.replace(
    "FROM documents),",
    "FROM documents WHERE doc_id % 31 <> 0),") +
    """
      |SELECT query_id, doc_id, n_terms, score_micro, rank
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  private val q199Dir = QueriesScale.sidePath("q199_pq_vacuum")

  /** PQ-index GDPR vacuum ([[graft.ops.Pq.vacuumPqIndex]], NO compact):
    * codes are a lossy derivative of the embedding, so the forget must
    * reach them — the tombstone parquet hides the forgotten vectors
    * from the candidate side while the cell-partitioned codes files
    * stay byte-identical (spec-asserted in PqSpec). The oracle replays
    * the stored-artifact ADC search (q190) with the candidate set
    * anti-joined against the ACTUAL persisted tombstones — the gate
    * reads what vacuum wrote, not a re-derived filter. Probe cells
    * still read back from the unfiltered codes (a forgotten vector may
    * still probe; it must simply never be returned as a candidate).
    */
  val q199 = QueryDef("q199_pq_vacuum", (spark, dir) => {
    QueriesScale.reapStaleSideTables("q199_pq_vacuum")
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    graft.ops.Pq.writePqIndex(emb, q199Dir, m = 4, k = 16, cells = 16,
      seed = 42L)
    graft.ops.Pq.vacuumPqIndex(spark, q199Dir,
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"))
    val probes = emb.filter(col("vec_id") % 25 === 0)
    graft.ops.Pq.pqTopKIndexed(spark, q199Dir, probes, topk = 5)
      .select("probe_id", "cand_id", "adc_micro", "rank")
  }, Some(
    s"""WITH allcodes AS (SELECT cand_id, cell, codes
       |                  FROM read_parquet('$q199Dir/codes/*/*.parquet',
       |                                    hive_partitioning = true)),
       |ts AS (SELECT cand_id
       |       FROM read_parquet('$q199Dir/tombstones/*.parquet')),
       |codes AS (SELECT * FROM allcodes
       |          WHERE cand_id NOT IN (SELECT cand_id FROM ts)),
       |cb AS (SELECT sub, code, centroid
       |       FROM read_parquet('$q199Dir/codebook/*.parquet')),
       |p AS (SELECT c.cand_id AS probe_id, c.cell, e.embedding
       |      FROM allcodes c JOIN embeddings e ON e.vec_id = c.cand_id
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

  private val q200Dir = QueriesScale.sidePath("q200_psi_reference")

  /** Mergeable drift monitoring ([[graft.ops.Stats.writePsiReference]] /
    * [[graft.ops.Stats.psiFromPartials]]): the reference profile (edges
    * + bucket counts) persists ONCE, the current side arrives as TWO
    * independent feeds each contracted to integer bucket partials, and
    * the merged score must be bit-identical to q186's full recompute —
    * the oracle IS q186's (same ref/cur definitions), so the hash
    * proves the partial-fed path changes the plan (no reference rescan
    * per tick), never the answer.
    */
  val q200 = QueryDef("q200_psi_partials", (spark, dir) => {
    QueriesScale.reapStaleSideTables("q200_psi_reference")
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_extendedprice").as("v"))
    graft.ops.Stats.writePsiReference(ref, "v", q200Dir, bins = 10)
    def feed(r: Int) = li.filter(col("l_orderkey") % 4 === r)
      .select((col("l_extendedprice") * 1.08).as("v"))
    val edges = graft.ops.Stats.loadPsiEdges(spark, q200Dir)
    val pa = graft.ops.Stats.psiCurrentPartial(feed(1), "v", edges)
    val pb = graft.ops.Stats.psiCurrentPartial(feed(3), "v", edges)
    graft.ops.Stats.psiFromPartials(spark, q200Dir, pa.unionByName(pb))
      .orderBy("bucket")
  }, QueriesRound8.q186.oracle)

  private val q202Dir = QueriesScale.sidePath("q202_ks_reference")

  /** Mergeable KS monitoring ([[graft.ops.Stats.writeKsReference]] /
    * [[graft.ops.Stats.ksFromPartials]]): the reference side persists
    * once as its distinct-value counts (KS's minimal sufficient
    * statistic), the current side arrives as TWO independent feeds
    * contracted to mergeable value counts, and the partial-fed exact
    * statistic must be bit-identical to q189's full recompute — its
    * oracle verbatim.
    */
  val q202 = QueryDef("q202_ks_partials", (spark, dir) => {
    QueriesScale.reapStaleSideTables("q202_ks_reference")
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_extendedprice").as("v"))
    graft.ops.Stats.writeKsReference(ref, "v", q202Dir)
    def feed(r: Int) = li.filter(col("l_orderkey") % 4 === r)
      .select((col("l_extendedprice") * 1.02).as("v"))
    val pa = graft.ops.Stats.ksCurrentPartial(feed(1), "v")
    val pb = graft.ops.Stats.ksCurrentPartial(feed(3), "v")
    graft.ops.Stats.ksFromPartials(spark, q202Dir, pa.unionByName(pb),
      buckets = 64)
  }, QueriesRound8.q189.oracle)

  private val q201MergePath = QueriesScale.sidePath("q201_token_merges")

  /** Tokenizer-grain near-dup pairs ([[graft.ops.Dedup
    * .jaccardPairsTokens]]): dedup at the grain the model trains on —
    * shingles are 5-grams of BPE PIECES (q100's encode, merges
    * persisted to a side table both engines read), candidates come from
    * shingles with document frequency <= 50 (the maxShingleFreq skew
    * cap), and the score is the EXACT full-set jaccard. The oracle
    * replays the whole chain in DuckDB: the recursive BPE merge apply
    * (q100's CTE), the piece n-gram generation, the rare-shingle
    * candidate rule, and a per-pair list_intersect for the exact
    * intersection (never the hot-key quadratic join the cap exists to
    * avoid).
    */
  val q201 = QueryDef("q201_token_dedup_pairs", (spark, dir) => {
    QueriesScale.reapStaleSideTables("q201_token_merges")
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val mergeTable = graft.ops.Bpe.learn(docs, "text", numMerges = 20)
    mergeTable.write.mode("overwrite").parquet(q201MergePath)
    val merges = graft.ops.Bpe.mergesOf(spark.read.parquet(q201MergePath))
    graft.ops.Dedup.jaccardPairsTokens(docs, "doc_id", "text", merges,
        threshold = 0.6, n = 5, maxShingleFreq = Some(50))
      .orderBy("a_id", "b_id")
  }, Some(
    s"""WITH RECURSIVE m AS (SELECT rank, lhs, rhs
       |           FROM read_parquet('$q201MergePath/*.parquet')),
       |nm AS (SELECT max(rank) AS top FROM m),
       |spl AS (SELECT doc_id, string_split(lower(text), ' ') AS l
       |        FROM documents),
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
       |sh AS (SELECT DISTINCT doc_id, array_to_string(p[i:i+4], ' ') AS shingle
       |       FROM (SELECT doc_id, p,
       |               unnest(generate_series(1, len(p) - 4)) AS i
       |             FROM pieces WHERE len(p) >= 5)),
       |agg AS (SELECT doc_id, list(shingle) AS shs,
       |          CAST(count(*) AS BIGINT) AS n_sh
       |        FROM sh GROUP BY doc_id),
       |rare AS (SELECT shingle FROM sh GROUP BY shingle
       |         HAVING count(*) <= 50),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM sh a
       |         JOIN rare r ON r.shingle = a.shingle
       |         JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id),
       |scored AS (SELECT c.a_id, c.b_id,
       |             CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT)
       |               AS n_inter,
       |             a.n_sh AS na, b.n_sh AS nb
       |           FROM cand c
       |           JOIN agg a ON a.doc_id = c.a_id
       |           JOIN agg b ON b.doc_id = c.b_id)
       |SELECT a_id, b_id,
       |  round(CAST(n_inter AS DOUBLE) / (na + nb - n_inter), 4) AS jaccard
       |FROM scored
       |WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.6
       |ORDER BY a_id, b_id""".stripMargin))

  private val q203Dir = QueriesScale.sidePath("q203_clustered_index")

  /** IVF clustered-index GDPR vacuum ([[graft.ops.Similarity
    * .vacuumClusteredIndex]], NO compact): the clustered layout stores
    * the RAW embeddings — the most direct personal-data derivative of
    * all the persisted artifacts — so the forget must reach it first.
    * Tombstoned vectors must vanish from every indexed ranking while
    * the cell-partitioned files stay byte-identical (spec-asserted in
    * SimilarityIndexSpec). The oracle replays the partition-pruned IVF
    * cosine top-k with the candidate set anti-joined against the
    * ACTUAL persisted tombstones; probes keep their own embeddings (a
    * forgotten vector may still probe — it must simply never be
    * returned).
    */
  val q203 = QueryDef("q203_ivf_index_vacuum", (spark, dir) => {
    QueriesScale.reapStaleSideTables("q203_clustered_index")
    val emb = t(spark, dir, "embeddings")
      .select("vec_id", "embedding", "label")
    graft.ops.Similarity.writeClusteredIndex(emb, q203Dir,
      clusterCol = "label")
    graft.ops.Similarity.vacuumClusteredIndex(spark, q203Dir,
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"))
    val probes = emb.filter(col("vec_id") % 25 === 0)
    val probeN = probes.count()
    graft.ops.Similarity.ivfTopKIndexed(spark, q203Dir, probes, k = 5,
      clusterCol = "label", probeRows = Some(probeN))
  }, Some(
    s"""WITH ts AS (SELECT vec_id
       |            FROM read_parquet('${q203Dir}_tombstones/*.parquet')),
       |p AS (SELECT vec_id AS probe_id, embedding AS pe, label
       |      FROM embeddings WHERE vec_id % 25 = 0),
       |c AS (SELECT vec_id AS cand_id, embedding AS ce, label
       |      FROM embeddings
       |      WHERE vec_id NOT IN (SELECT vec_id FROM ts)),
       |scored AS (
       |  SELECT probe_id, cand_id, ${QueriesScale.duckCos("pe", "ce")} AS cos
       |  FROM p JOIN c ON p.label = c.label AND probe_id <> cand_id),
       |ranked AS (SELECT probe_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY probe_id
       |                       ORDER BY round(cos, 6) DESC, cand_id) AS rank
       |  FROM scored)
       |SELECT probe_id, cand_id, round(cos, 4) AS cos, rank
       |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin))

  /** STREAMING drift monitoring ([[graft.streaming.Streams
    * .partialsSink]] with [[graft.ops.Stats.psiCurrentPartial]]): the
    * current snapshot replays through a file
    * stream in three micro-batches, each landing its integer bucket
    * partial against the stored reference profile; the accumulated
    * partials then score through [[graft.ops.Stats.psiFromPartials]]
    * and must be bit-identical to q186's batch recompute — its oracle
    * verbatim. The q200 mergeable-drift lane made continuous.
    */
  val q204 = QueryDef("q204_stream_psi_drift", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q204")
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_extendedprice").as("v"))
    graft.ops.Stats.writePsiReference(ref, "v", s"$out/ref", bins = 10)
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .select((col("l_extendedprice") * 1.08).as("v"),
        pmod(col("l_orderkey"), lit(3)).as("_chunk"))
    (0 until 3).foreach(i => cur.filter(col("_chunk") === i).drop("_chunk")
      .coalesce(1).write.mode("append").parquet(s"$out/feed"))
    val stream = spark.readStream.schema("v DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$out/feed")
    val edges = graft.ops.Stats.loadPsiEdges(spark, s"$out/ref")
    val q = graft.streaming.Streams.partialsSink(stream, s"$out/partials",
      s"$out/ckpt")(graft.ops.Stats.psiCurrentPartial(_, "v", edges))
    try q.processAllAvailable() finally q.stop()
    graft.ops.Stats.psiFromPartials(spark, s"$out/ref",
        spark.read.parquet(s"$out/partials/batch*"))
      .orderBy("bucket")
  }, QueriesRound8.q186.oracle)

  /** Per-slice exact KS ([[graft.ops.Stats.ksByGroup]] — the KS member
    * of the per-group drift matrix beside q197's psiByGroup): each
    * return-flag slice's supremum CDF gap is exact over that slice's
    * merged distinct prices, the per-group argmax is a hash aggregate
    * (never a per-group sort task), and the oracle replays the
    * per-group cumulative windows, the integer micro quantization, and
    * the (d DESC, v ASC) argmax per slice.
    */
  val q205 = QueryDef("q205_ks_by_group", (spark, dir) => {
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice") * 1.02).as("v"))
    graft.ops.Stats.ksByGroup(ref, cur, "g", "v", buckets = 16)
      .orderBy("group")
  }, Some(
    """WITH refv AS (SELECT l_returnflag AS g,
      |                CAST(l_extendedprice AS DOUBLE) AS v, count(*) AS nr
      |              FROM lineitem
      |              WHERE l_orderkey % 2 = 0 AND l_extendedprice IS NOT NULL
      |              GROUP BY 1, 2),
      |curv AS (SELECT l_returnflag AS g,
      |           CAST(l_extendedprice * 1.02 AS DOUBLE) AS v, count(*) AS nc
      |         FROM lineitem
      |         WHERE l_orderkey % 2 = 1 AND l_extendedprice IS NOT NULL
      |         GROUP BY 1, 2),
      |m AS (SELECT coalesce(refv.g, curv.g) AS g,
      |        coalesce(refv.v, curv.v) AS v,
      |        coalesce(nr, 0) AS nr, coalesce(nc, 0) AS nc
      |      FROM refv FULL OUTER JOIN curv
      |        ON refv.g = curv.g AND refv.v = curv.v),
      |c AS (SELECT g, v, nr, nc,
      |        sum(nr) OVER w AS cr, sum(nc) OVER w AS cc
      |      FROM m
      |      WINDOW w AS (PARTITION BY g ORDER BY v
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (SELECT g, CAST(sum(nr) AS BIGINT) AS tr,
      |          CAST(sum(nc) AS BIGINT) AS tc
      |        FROM m GROUP BY g HAVING sum(nr) > 0 AND sum(nc) > 0),
      |d AS (SELECT c.g, v, tr, tc,
      |        CAST(round(round(abs(CAST(cr AS DOUBLE) / tr
      |          - CAST(cc AS DOUBLE) / tc), 6) * 1e6, 0) AS BIGINT)
      |          AS d_micro
      |      FROM c JOIN tot ON tot.g = c.g),
      |r AS (SELECT g, v, tr, tc, d_micro,
      |        row_number() OVER (PARTITION BY g
      |          ORDER BY d_micro DESC, v) AS rn
      |      FROM d)
      |SELECT g AS "group", tr AS n_ref, tc AS n_cur, d_micro,
      |  round(v, 4) AS at_value
      |FROM r WHERE rn = 1 ORDER BY "group"""".stripMargin))

  val all: Seq[QueryDef] = Seq(q198, q199, q200, q201, q202, q203, q204,
    q205)
}
