package graft

import org.apache.spark.sql.functions._
import graft.Queries.QueryDef

/** Round-8 widening: the tombstone-lane index vacuum gate plus the
  * operators added this round.
  */
object QueriesRound8 {

  /** Tombstone-only index vacuum ([[graft.ops.Dedup
    * .vacuumNearDupIndex]], NO compact — q140's other lane): after the
    * forget ids append to the tombstone table, every index READ must
    * already treat the forgotten docs as gone — their planted near-dups
    * in the q70 delta are accepted again — while the index parquet
    * files stay byte-identical (the ~deleted-rows vacuum cost contract;
    * file identity is spec-asserted in NearDupIndexSpec, the acceptance
    * semantics hash-gate here). Same oracle as q140: the q70 recursive
    * replay with the forgotten docs excluded from the corpus.
    */
  val q178 = QueryDef("q178_index_vacuum_tombstone", (spark, dir) => {
    val (corpus, delta) = QueriesText.q70Corpus(spark, dir)
    graft.ops.IndexStore.dropTables(spark,
      Seq("_shingles", "_buckets", "_meta", "_tombstones").map("q178idx" + _))
    val idx = graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text",
      "q178idx", numBuckets = 8)
    graft.ops.Dedup.vacuumNearDupIndex(spark, "q178idx",
      corpus.filter(col("doc_id") % 20 === 0).select("doc_id"))
    graft.ops.Dedup.dropNearDuplicatesAgainst(idx, delta, "doc_id",
        "text", threshold = 0.8, maxBandFreq = None,
        appendAccepted = false)
      .orderBy("doc_id")
  }, QueriesText.q70.oracle.map(_.replace(
    "corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
    "corpus AS (SELECT doc_id, text FROM documents " +
      "WHERE doc_id % 2 = 0 AND doc_id % 20 <> 0)")))

  private def t(spark: org.apache.spark.sql.SparkSession, dir: String,
                name: String) = graft.core.Tables.load(spark, dir, name)

  private val q179Dir = QueriesScale.sidePath("q179_pq_recall")

  /** IVF-PQ recall harness ([[graft.ops.Pq.adcTopKFused]] through
    * [[graft.ops.Similarity.retrievalEval]]) — q151's hash-gated
    * recall/MRR eval extended to the QUANTIZED tier: the ADC
    * approximation's quality is measured against the brute-force ground
    * truth, not assumed. Cells, codebook, and codes side-materialize
    * (the q106 model pattern — training/encoding are engine-specific
    * argmins, each spec-held to reference implementations) and the
    * oracle replays BOTH pipelines: the ADC search (per-probe distance
    * tables, exact micro-unit code-lookup sums, cell-pruned ranking)
    * and the exact cosine top-10, then the eval arithmetic. The
    * measured PQ recall itself is pinned to the integer.
    */
  val q179 = QueryDef("q179_pq_recall", (spark, dir) => {
    QueriesScale.reapStaleSideTables("q179_pq_recall")
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") % 100 === 0)
    val probeN = probes.count()
    val exact = graft.ops.Similarity.bruteForceTopK(emb, probes, k = 10,
      probeRows = Some(probeN))
    val sample = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
    val (_, model) = graft.ops.Similarity.kmeansCells(sample, cells = 16,
      seed = 42L)
    val clustered = graft.ops.Similarity.assignCells(emb, model)
    clustered.select("vec_id", "cell")
      .write.mode("overwrite").parquet(s"$q179Dir/cells")
    graft.ops.Pq.trainPqCodebooks(sample, "embedding", m = 4, k = 16,
        seed = 7L)
      .write.mode("overwrite").parquet(s"$q179Dir/codebook")
    val cb = graft.ops.Pq.codebookArrays(
      spark.read.parquet(s"$q179Dir/codebook"))
    graft.ops.Pq.encodePq(clustered, "embedding", cb)
      .select(col("vec_id"), col("cell"), col("codes"))
      .write.mode("overwrite").parquet(s"$q179Dir/codes")
    val candCodes = spark.read.parquet(s"$q179Dir/codes")
      .select(col("vec_id").as("cand_id"), col("cell"), col("codes"))
    val probeSide = spark.read.parquet(s"$q179Dir/cells")
      .filter(col("vec_id") % 100 === 0)
      .join(emb, "vec_id")
      .select(col("vec_id").as("probe_id"), col("cell"), col("embedding"))
    val approx = graft.ops.Pq.adcTopKFused(candCodes, probeSide, cb,
      topk = 10)
    graft.ops.Similarity.retrievalEval(approx, exact).orderBy("probe_id")
  }, Some(
    s"""WITH cells AS (SELECT vec_id, cell
       |               FROM read_parquet('$q179Dir/cells/*.parquet')),
       |cb AS (SELECT sub, code, centroid
       |       FROM read_parquet('$q179Dir/codebook/*.parquet')),
       |codes AS (SELECT vec_id, cell, codes
       |          FROM read_parquet('$q179Dir/codes/*.parquet')),
       |p0 AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
       |       WHERE vec_id % 100 = 0),
       |c0 AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings),
       |ex_scored AS (
       |  SELECT probe_id, cand_id, ${QueriesScale.duckCos("pe", "ce")} AS cos
       |  FROM p0, c0 WHERE probe_id <> cand_id),
       |ex_ranked AS (SELECT probe_id, cand_id,
       |    row_number() OVER (PARTITION BY probe_id
       |                       ORDER BY round(cos, 6) DESC, cand_id) AS rank
       |  FROM ex_scored QUALIFY rank <= 10),
       |p AS (SELECT c.vec_id AS probe_id, c.cell, e.embedding
       |      FROM cells c JOIN embeddings e ON e.vec_id = c.vec_id
       |      WHERE c.vec_id % 100 = 0),
       |tb AS (SELECT probe_id, p.cell, sub, code,
       |        CAST(round(round(list_sum(list_transform(
       |          list_zip(embedding[(sub * 16 + 1):(sub * 16 + 16)], centroid),
       |          x -> (x[1]::DOUBLE - x[2]::DOUBLE) *
       |               (x[1]::DOUBLE - x[2]::DOUBLE))), 6) * 1e6, 0)
       |          AS BIGINT) AS d_micro
       |      FROM p, cb),
       |cl AS (SELECT vec_id AS cand_id, cell, codes,
       |         unnest(generate_series(1, len(codes))) AS i
       |       FROM codes),
       |cl2 AS (SELECT cand_id, cell, i - 1 AS sub, codes[i] AS code FROM cl),
       |s AS (SELECT probe_id, cand_id,
       |        CAST(sum(d_micro) AS BIGINT) AS adc_micro
       |      FROM cl2 JOIN tb USING (cell, sub, code)
       |      WHERE probe_id <> cand_id
       |      GROUP BY probe_id, cand_id),
       |ap_ranked AS (SELECT probe_id, cand_id,
       |        CAST(row_number() OVER (PARTITION BY probe_id
       |             ORDER BY adc_micro, cand_id) AS BIGINT) AS rank
       |      FROM s QUALIFY rank <= 10),
       |exn AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact
       |        FROM ex_ranked GROUP BY 1),
       |hits AS (SELECT a.probe_id, CAST(count(*) AS BIGINT) AS nh,
       |           min(a.rank) AS first_r
       |         FROM ap_ranked a JOIN ex_ranked e
       |           ON e.probe_id = a.probe_id AND e.cand_id = a.cand_id
       |         GROUP BY 1)
       |SELECT exn.probe_id, n_exact,
       |  CAST(coalesce(nh, 0) AS BIGINT) AS n_hit,
       |  CAST(round(round(CAST(coalesce(nh, 0) AS DOUBLE) / n_exact, 6)
       |    * 1e6, 0) AS BIGINT) AS recall_micro,
       |  coalesce(CAST(round(round(1.0 / first_r, 6) * 1e6, 0) AS BIGINT), 0)
       |    AS rr_micro
       |FROM exn LEFT JOIN hits USING (probe_id)
       |ORDER BY probe_id""".stripMargin))

  /** Image-header metadata ([[graft.ops.Multimodal.imageMeta]] over the
    * codegen'd [[graft.functions.ImageMeta]] byte-scan): every document
    * synthesizes a REAL container header — PNG (big-endian IHDR), JPEG
    * (APP0 then SOF0, so the marker scan is exercised), or GIF
    * (little-endian screen descriptor) — with dimensions derived from
    * `doc_id`, and the op must parse them back OUT OF THE BYTES. The
    * oracle replays only the planted arithmetic: any parser drift
    * (endianness, offset, marker skip) hash-fails. `aspect_micro` and
    * the min-dim `keep` gate are the standard image-curation columns.
    */
  val q180 = QueryDef("q180_image_meta", (spark, dir) => {
    val docs = t(spark, dir, "documents").select("doc_id")
    val w = (col("doc_id") % 240 + 16).cast("int")
    val h = ((col("doc_id") * 7) % 240 + 16).cast("int")
    def beHex(c: org.apache.spark.sql.Column, width: Int) =
      lpad(lower(hex(c)), width, "0")
    def le16(c: org.apache.spark.sql.Column) = {
      val be = beHex(c, 4)
      concat(substring(be, 3, 2), substring(be, 1, 2))
    }
    val pngHex = concat(lit("89504e470d0a1a0a0000000d49484452"),
      beHex(w, 8), beHex(h, 8), lit("080600000000000000"))
    val jpegHex = concat(
      lit("ffd8ffe000104a46494600010100000100010000ffc0001108"),
      beHex(h, 4), beHex(w, 4), lit("03012200021101031101ffd9"))
    val gifHex = concat(lit("474946383961"), le16(w), le16(h), lit("000000"))
    val payload = unhex(when(col("doc_id") % 3 === 0, pngHex)
      .when(col("doc_id") % 3 === 1, jpegHex)
      .otherwise(gifHex))
    graft.ops.Multimodal.imageMeta(
        docs.withColumn("payload", payload), "payload")
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        round(round(col("width").cast("double") / col("height"), 6)
          * lit(1e6), 0).cast("long").as("aspect_micro"),
        (col("width") >= 32 && col("height") >= 32).as("keep"))
      .orderBy("doc_id")
  }, Some(
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      |       ELSE 'gif' END AS format,
      |  CAST(doc_id % 240 + 16 AS INT) AS width,
      |  CAST((doc_id * 7) % 240 + 16 AS INT) AS height,
      |  CAST(round(round(CAST(doc_id % 240 + 16 AS DOUBLE)
      |    / ((doc_id * 7) % 240 + 16), 6) * 1e6, 0) AS BIGINT)
      |    AS aspect_micro,
      |  doc_id % 240 + 16 >= 32 AND (doc_id * 7) % 240 + 16 >= 32 AS keep
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** Fingerprint-index vacuum ([[graft.ops.Dedup
    * .vacuumFingerprintIndex]] — the exact-dedup twin of q178's
    * tombstone lane): q87's corpus index is built, every %20 doc's
    * CONTENT is forgotten (tombstone append, zero fps-file rewrites),
    * then q87's delta ingests. The forgotten docs' whitespace variants
    * must be ACCEPTED again; everything else drops exactly as in q87.
    * The oracle replays the vacuum at fp grain (delta fps checked
    * against corpus fps MINUS forgotten fps — the true semantics even
    * when several docs share a normalized text).
    */
  val q181 = QueryDef("q181_fp_index_vacuum", (spark, dir) => {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit("   ")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 14 === 7)
        .select((col("doc_id") + 700000).as("doc_id"), col("text")))
    graft.ops.IndexStore.dropTables(spark,
      Seq("_fps", "_fps_tombstones").map("q181idx" + _))
    val idx = graft.ops.Dedup.writeFingerprintIndex(corpus, "text",
      "q181idx", numBuckets = 8)
    graft.ops.Dedup.vacuumFingerprintIndex(spark, "q181idx",
      corpus.filter(col("doc_id") % 20 === 0), "text")
    graft.ops.Dedup.dropExactDuplicatesAgainst(idx, delta, "doc_id",
        "text", appendAccepted = false)
      .orderBy("doc_id")
  }, Some(
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      |delta AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT doc_id + 500000, text || '   ' FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 700000, text FROM documents WHERE doc_id % 14 = 7),
      |cfps AS (SELECT DISTINCT
      |           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |         FROM corpus),
      |forgotten AS (SELECT DISTINCT
      |           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |         FROM corpus WHERE doc_id % 20 = 0),
      |visible AS (SELECT fp FROM cfps
      |            WHERE fp NOT IN (SELECT fp FROM forgotten)),
      |fps AS (SELECT doc_id, text,
      |        md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |        FROM delta),
      |keepfirst AS (
      |  SELECT doc_id, text, fp FROM (
      |    SELECT doc_id, text, fp,
      |           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |    FROM fps) WHERE rn = 1)
      |SELECT doc_id, text FROM keepfirst
      |WHERE fp NOT IN (SELECT fp FROM visible)
      |ORDER BY doc_id""".stripMargin))

  private val lkName =
    graft.ops.Linkage.LinkField("p_name", m = 0.9, u = 0.1, maxDist = 1)
  private val lkBrand =
    graft.ops.Linkage.LinkField("p_brand", m = 0.95, u = 0.2)
  private val lkType =
    graft.ops.Linkage.LinkField("p_type", m = 0.9, u = 0.3)

  /** Fellegi-Sunter record linkage ([[graft.ops.Linkage
    * .linkagePairs]]): the part catalog plus planted TWINS (name one
    * edit off, brand/type intact — every field agrees, lands in the
    * `match` band) and IMPOSTORS (name one edit off but a foreign
    * brand — the partial-agreement `possible` band the method exists
    * to isolate). The oracle replays blocking, the per-field
    * normalized comparisons, and the integer log-likelihood weights —
    * interpolated from the SAME driver-computed constants the Spark
    * plan uses, so the score arithmetic cannot drift.
    */
  val q182 = QueryDef("q182_record_linkage", (spark, dir) => {
    val part = t(spark, dir, "part")
      .select("p_partkey", "p_name", "p_brand", "p_type")
      .filter(col("p_partkey") % 4 === 0)
    val twins = part.filter(col("p_partkey") % 12 === 0)
      .select((col("p_partkey") + 1000000).as("p_partkey"),
        concat(substring(col("p_name"), 1, 5), lit("x"),
          substring(col("p_name"), 7, 100000)).as("p_name"),
        col("p_brand"), col("p_type"))
    val impostors = part.filter(col("p_partkey") % 12 === 4)
      .select((col("p_partkey") + 2000000).as("p_partkey"),
        concat(substring(col("p_name"), 1, 5), lit("z"),
          substring(col("p_name"), 7, 100000)).as("p_name"),
        lit("Brand#99").as("p_brand"), col("p_type"))
    // the gate keeps the match/possible bands (the decision surface the
    // method exists for) — emitting every scored NON-match candidate
    // pair would make the gate artifact O(candidate pairs), 4M rows at
    // sf0.1, for rows whose only content is "nothing matched"
    graft.ops.Linkage.linkagePairs(
        part.unionByName(twins).unionByName(impostors),
        "p_partkey", "p_name", Seq(lkName, lkBrand, lkType),
        blockMaxDist = 1, upperMicro = 3000000L, lowerMicro = 0L)
      .filter(col("decision") =!= "non_match")
      .orderBy("a_id", "b_id")
  }, Some {
    def nrm(c: String) = s"trim(regexp_replace(lower($c), '\\s+', ' ', 'g'))"
    s"""WITH base AS (SELECT p_partkey, p_name, p_brand, p_type FROM part
       |              WHERE p_partkey % 4 = 0),
       |allr AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT p_partkey + 1000000,
       |         substr(p_name, 1, 5) || 'x' || substr(p_name, 7),
       |         p_brand, p_type FROM base WHERE p_partkey % 12 = 0
       |  UNION ALL
       |  SELECT p_partkey + 2000000,
       |         substr(p_name, 1, 5) || 'z' || substr(p_name, 7),
       |         'Brand#99', p_type FROM base WHERE p_partkey % 12 = 4),
       |b AS (SELECT p_partkey AS id, p_name, p_brand, p_type,
       |        ${nrm("p_name")} AS nk FROM allr),
       |r2 AS (SELECT id, nk, substr(nk, 1, 4) AS pfx,
       |         CAST(floor(len(nk) / 2.0) AS BIGINT) AS lb FROM b),
       |sized AS (SELECT * FROM r2
       |          QUALIFY count(*) OVER (PARTITION BY pfx, lb) <= 10000),
       |pairs AS (SELECT DISTINCT least(x.id, y.id) AS a_id,
       |            greatest(x.id, y.id) AS b_id
       |          FROM sized x JOIN sized y
       |            ON x.pfx = y.pfx
       |           AND ((y.lb = x.lb AND x.id < y.id) OR y.lb = x.lb + 1)
       |          WHERE x.id <> y.id),
       |scored AS (SELECT p.a_id, p.b_id,
       |    levenshtein(${nrm("ra.p_name")}, ${nrm("rb.p_name")}) <= 1
       |      AS agree_p_name,
       |    ${nrm("ra.p_brand")} = ${nrm("rb.p_brand")} AS agree_p_brand,
       |    ${nrm("ra.p_type")} = ${nrm("rb.p_type")} AS agree_p_type
       |  FROM pairs p JOIN b ra ON ra.id = p.a_id
       |               JOIN b rb ON rb.id = p.b_id),
       |sc2 AS (SELECT a_id, b_id, agree_p_name, agree_p_brand, agree_p_type,
       |    CAST(CASE WHEN agree_p_name THEN ${lkName.agreeMicro}
       |              ELSE ${lkName.disagreeMicro} END
       |       + CASE WHEN agree_p_brand THEN ${lkBrand.agreeMicro}
       |              ELSE ${lkBrand.disagreeMicro} END
       |       + CASE WHEN agree_p_type THEN ${lkType.agreeMicro}
       |              ELSE ${lkType.disagreeMicro} END AS BIGINT)
       |      AS score_micro
       |  FROM scored)
       |SELECT * FROM (
       |  SELECT a_id, b_id, agree_p_name, agree_p_brand, agree_p_type,
       |    score_micro,
       |    CASE WHEN score_micro >= 3000000 THEN 'match'
       |         WHEN score_micro <= 0 THEN 'non_match'
       |         ELSE 'possible' END AS decision
       |  FROM sc2)
       |WHERE decision <> 'non_match' ORDER BY a_id, b_id""".stripMargin
  })

  /** STREAMING attribution held to the batch oracle (q162's pattern,
    * applied to [[graft.streaming.AttributionStream]]): the events
    * table replays through a file stream with a far-future sentinel
    * advancing the watermark past every conversion, the per-touch
    * credit rows land in a memory sink, and their aggregation must
    * equal [[graft.ops.Events.attribution]]'s report bit-for-bit —
    * the SAME DuckDB oracle as q143, so the streaming lane can never
    * drift from its batch definition.
    */
  val q183 = QueryDef("q183_stream_attribution", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q183")
    graft.core.Tables.load(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$out/ev")
    import spark.implicits._
    Seq((-1L, java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), -1L,
        "sentinel"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("append").parquet(s"$out/ev")
    val stream = graft.streaming.Streams.readFileStream(spark,
      graft.core.model.DatasetSpec(path = s"$out/ev", format = "parquet"),
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
    val credits = graft.streaming.AttributionStream.credits(stream,
      "user_id", "ts", "event_id", "event_type",
      conversionType = "purchase", touchTypes = Seq("view", "click"),
      lookbackSeconds = 7200L, watermarkDelay = "1 hour")
    val sink = s"q183_sink_${System.nanoTime}"
    graft.streaming.Streams.withStatePartitions(spark, 8) {
      val q = credits.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(sink)
      .groupBy("channel")
      .agg(count(lit(1)).as("touches"),
        sum("first_micro").as("_f"), sum("last_micro").as("_l"),
        sum("linear_micro").as("_n"))
      .select(expr("stack(3, 'first_touch', _f, 'last_touch', _l, " +
        "'linear', _n) AS (model, credit_micro)"),
        col("channel"), col("touches"))
      .select(col("model"), col("channel"), col("touches"),
        col("credit_micro"))
      .orderBy("model", "channel")
  }, QueriesAnalytics.q143.oracle)

  /** Semantic decontamination ([[graft.ops.Similarity
    * .semanticDecontaminate]]): the corpus embeddings are scrubbed of
    * everything cosine-close to a held-out eval slice — the
    * embedding-space member of the q55/q113/q135 decontamination
    * family, catching paraphrase-level leakage lexical n-grams miss.
    * The oracle replays the full corpus x eval cosine scan and the
    * survivor anti-join; the hash pins both the drop set and the
    * surviving rows.
    */
  val q184 = QueryDef("q184_semantic_decontamination", (spark, dir) => {
    val emb = t(spark, dir, "embeddings")
      .select("vec_id", "embedding", "label")
    val evalSet = emb.filter(col("vec_id") % 97 === 0)
    val corpus = emb.filter(col("vec_id") % 97 =!= 0)
    graft.ops.Similarity.semanticDecontaminate(corpus, "vec_id",
        "embedding", evalSet, "vec_id", "embedding", threshold = 0.4)
      .select("vec_id", "label")
      .orderBy("vec_id")
  }, Some(
    s"""WITH ev AS (SELECT vec_id AS a_id, embedding AS ae FROM embeddings
       |            WHERE vec_id % 97 = 0),
       |c AS (SELECT vec_id, embedding, label FROM embeddings
       |      WHERE vec_id % 97 <> 0),
       |hits AS (SELECT DISTINCT c.vec_id FROM ev, c
       |         WHERE ${QueriesScale.duckCos("ae", "c.embedding")} >= 0.4)
       |SELECT vec_id, label FROM c
       |WHERE vec_id NOT IN (SELECT vec_id FROM hits)
       |ORDER BY vec_id""".stripMargin))

  /** Windowed co-occurrence PMI ([[graft.ops.TextAnalysis.coocPmi]],
    * window 3): q163's collocation mining widened to the skip-gram
    * context — the oracle replays the positional pair generation
    * (1-based `generate_series` mirroring the 0-based Spark
    * `sequence`), alphabetical orientation, both totals, and the micro
    * PMI with the (pmi, a, b) tie order.
    */
  val q185 = QueryDef("q185_cooc_pmi", (spark, dir) =>
    graft.ops.TextAnalysis.coocPmi(t(spark, dir, "documents"), "text",
      window = 3, minCount = 5L, k = 20),
    Some(
      """WITH toksl AS (SELECT list_filter(string_split(lower(text), ' '),
        |                 x -> x <> '') AS l FROM documents),
        |uni AS (SELECT t, count(*) AS c FROM
        |          (SELECT unnest(l) AS t FROM toksl) GROUP BY t),
        |un AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        |bi0 AS (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
        |        FROM toksl WHERE len(l) >= 2),
        |bij AS (SELECT l, i,
        |          unnest(generate_series(i + 1, least(i + 3, len(l)))) AS j
        |        FROM bi0),
        |pr AS (SELECT CASE WHEN l[i] < l[j] THEN l[i] ELSE l[j] END AS a,
        |              CASE WHEN l[i] < l[j] THEN l[j] ELSE l[i] END AS b
        |       FROM bij WHERE l[i] <> l[j]),
        |bi AS (SELECT a, b, count(*) AS c_ab FROM pr
        |       GROUP BY 1, 2 HAVING count(*) >= 5),
        |bm AS (SELECT CAST(sum(c_ab) AS BIGINT) AS m FROM bi)
        |SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
        |  CAST(round(round(ln((CAST(c_ab AS DOUBLE) / m) /
        |    ((CAST(ua.c AS DOUBLE) / n) * (CAST(ub.c AS DOUBLE) / n))), 6)
        |    * 1e6, 0) AS BIGINT) AS pmi_micro
        |FROM bi JOIN uni ua ON ua.t = bi.a JOIN uni ub ON ub.t = bi.b, un, bm
        |ORDER BY pmi_micro DESC, a, b LIMIT 20""".stripMargin))

  /** Feature-drift PSI ([[graft.ops.Stats.psi]]): even-orderkey prices
    * are the reference, odd-orderkey prices inflated 8% are the
    * "current" snapshot — a planted mid-strength drift. The oracle
    * replays the reference quantile edges (q165's rounded-edge /
    * ties-LOW rule), both bucketings, the 1e-6 floor, and the
    * micro-quantized `(p-q)·ln(p/q)` terms bucket by bucket.
    */
  val q186 = QueryDef("q186_psi_drift", (spark, dir) => {
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_extendedprice").as("v"))
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .select((col("l_extendedprice") * 1.08).as("v"))
    graft.ops.Stats.psi(ref, cur, "v", bins = 10).orderBy("bucket")
  }, Some {
    val ps = (1 until 10).map(i => (i / 10.0).toString).mkString(", ")
    s"""WITH refv AS (SELECT l_extendedprice AS v FROM lineitem
       |              WHERE l_orderkey % 2 = 0 AND l_extendedprice IS NOT NULL),
       |curv AS (SELECT l_extendedprice * 1.08 AS v FROM lineitem
       |         WHERE l_orderkey % 2 = 1 AND l_extendedprice IS NOT NULL),
       |e AS (SELECT list_transform(quantile_cont(v, [$ps]),
       |        x -> round(x, 4)) AS edges FROM refv),
       |rb AS (SELECT CAST(len(list_filter(e.edges, x -> v > x)) AS BIGINT)
       |         AS bucket, count(*) AS n_ref
       |       FROM refv, e GROUP BY 1),
       |cb AS (SELECT CAST(len(list_filter(e.edges, x -> v > x)) AS BIGINT)
       |         AS bucket, count(*) AS n_cur
       |       FROM curv, e GROUP BY 1),
       |grid AS (SELECT g.bucket,
       |           CAST(coalesce(rb.n_ref, 0) AS BIGINT) AS n_ref,
       |           CAST(coalesce(cb.n_cur, 0) AS BIGINT) AS n_cur
       |         FROM (SELECT unnest(generate_series(0, 9)) AS bucket) g
       |         LEFT JOIN rb ON rb.bucket = g.bucket
       |         LEFT JOIN cb ON cb.bucket = g.bucket),
       |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
       |          CAST(sum(n_cur) AS BIGINT) AS tc FROM grid)
       |SELECT bucket, n_ref, n_cur,
       |  CAST(round(round(greatest(CAST(n_ref AS DOUBLE) / tr, 0.000001), 6)
       |    * 1e6, 0) AS BIGINT) AS p_micro,
       |  CAST(round(round(greatest(CAST(n_cur AS DOUBLE) / tc, 0.000001), 6)
       |    * 1e6, 0) AS BIGINT) AS q_micro,
       |  CAST(round(round(
       |    (greatest(CAST(n_ref AS DOUBLE) / tr, 0.000001)
       |     - greatest(CAST(n_cur AS DOUBLE) / tc, 0.000001))
       |    * ln(greatest(CAST(n_ref AS DOUBLE) / tr, 0.000001)
       |         / greatest(CAST(n_cur AS DOUBLE) / tc, 0.000001)), 6)
       |    * 1e6, 0) AS BIGINT) AS psi_micro
       |FROM grid, tot ORDER BY bucket""".stripMargin
  })

  /** STREAMING funnel held to the batch oracle (q183's pattern for
    * [[graft.streaming.FunnelStream]]): the events table replays
    * through a file stream + far-future sentinel, each per-user step
    * advance lands as one completion row, and distinct-user counts per
    * step must equal [[graft.ops.Events.funnel]]'s report — q115's
    * DuckDB oracle verbatim.
    */
  val q187 = QueryDef("q187_stream_funnel", (spark, dir) => {
    val out = graft.Queries.tmpDir("graft_q187")
    graft.core.Tables.load(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$out/ev")
    import spark.implicits._
    Seq((-1L, java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), -1L,
        "sentinel"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("append").parquet(s"$out/ev")
    val stream = graft.streaming.Streams.readFileStream(spark,
      graft.core.model.DatasetSpec(path = s"$out/ev", format = "parquet"),
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
    val steps = Seq("view", "click", "purchase")
    val comp = graft.streaming.FunnelStream.completions(stream,
      "user_id", "ts", "event_id", "event_type", steps,
      watermarkDelay = "1 hour")
    val sink = s"q187_sink_${System.nanoTime}"
    graft.streaming.Streams.withStatePartitions(spark, 8) {
      val q = comp.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    val counts = spark.table(sink)
      .groupBy("step_idx", "step")
      .agg(count_distinct(col("user_id")).as("n_users"))
    steps.zipWithIndex.map { case (s, i) => (i + 1, s) }
      .toDF("step_idx", "step")
      .join(counts, Seq("step_idx", "step"), "left")
      .select(col("step_idx"), col("step"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
      .orderBy("step_idx")
  }, QueriesEvents.q115.oracle)

  /** Categorical PSI ([[graft.ops.Stats.psiCategorical]]): the odd-
    * orderkey "current" snapshot drops half of one return-flag's rows —
    * a planted category drift — and gains nothing; the oracle replays
    * the union category grid, floors, and per-category terms.
    */
  val q188 = QueryDef("q188_psi_categorical", (spark, dir) => {
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .filter(!(col("l_returnflag") === "R" && col("l_linenumber") % 2 === 0))
    graft.ops.Stats.psiCategorical(ref, cur, "l_returnflag")
      .orderBy("category")
  }, Some(
    """WITH refc AS (SELECT coalesce(CAST(l_returnflag AS VARCHAR), '(null)')
      |         AS category, count(*) AS n_ref
      |       FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
      |curc AS (SELECT coalesce(CAST(l_returnflag AS VARCHAR), '(null)')
      |         AS category, count(*) AS n_cur
      |       FROM lineitem
      |       WHERE l_orderkey % 2 = 1
      |         AND NOT (l_returnflag = 'R' AND l_linenumber % 2 = 0)
      |       GROUP BY 1),
      |grid AS (SELECT coalesce(refc.category, curc.category) AS category,
      |           CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
      |           CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
      |         FROM refc FULL OUTER JOIN curc USING (category)),
      |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
      |          CAST(sum(n_cur) AS BIGINT) AS tc FROM grid)
      |SELECT category, n_ref, n_cur,
      |  CAST(round(round(greatest(CAST(n_ref AS DOUBLE) / tr, 0.000001), 6)
      |    * 1e6, 0) AS BIGINT) AS p_micro,
      |  CAST(round(round(greatest(CAST(n_cur AS DOUBLE) / tc, 0.000001), 6)
      |    * 1e6, 0) AS BIGINT) AS q_micro,
      |  CAST(round(round(
      |    (greatest(CAST(n_ref AS DOUBLE) / tr, 0.000001)
      |     - greatest(CAST(n_cur AS DOUBLE) / tc, 0.000001))
      |    * ln(greatest(CAST(n_ref AS DOUBLE) / tr, 0.000001)
      |         / greatest(CAST(n_cur AS DOUBLE) / tc, 0.000001)), 6)
      |    * 1e6, 0) AS BIGINT) AS psi_micro
      |FROM grid, tot ORDER BY category""".stripMargin))

  /** Exact two-sample KS drift statistic ([[graft.ops.Stats
    * .ksStatistic]]): even-orderkey prices vs odd-orderkey prices
    * inflated 2% — the oracle computes the same supremum over a plain
    * full-order window (the scale machinery being bucketed is
    * invariant by construction and spec-pinned), with the identical
    * deterministic argmax tie order.
    */
  val q189 = QueryDef("q189_ks_drift", (spark, dir) => {
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_extendedprice").as("v"))
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .select((col("l_extendedprice") * 1.02).as("v"))
    graft.ops.Stats.ksStatistic(ref, cur, "v", buckets = 64)
  }, Some(
    """WITH refv AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v, count(*) AS nr
      |              FROM lineitem
      |              WHERE l_orderkey % 2 = 0 AND l_extendedprice IS NOT NULL
      |              GROUP BY 1),
      |curv AS (SELECT CAST(l_extendedprice * 1.02 AS DOUBLE) AS v,
      |           count(*) AS nc
      |         FROM lineitem
      |         WHERE l_orderkey % 2 = 1 AND l_extendedprice IS NOT NULL
      |         GROUP BY 1),
      |m AS (SELECT coalesce(refv.v, curv.v) AS v,
      |        coalesce(nr, 0) AS nr, coalesce(nc, 0) AS nc
      |      FROM refv FULL OUTER JOIN curv ON refv.v = curv.v),
      |c AS (SELECT v,
      |        sum(nr) OVER (ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
      |        sum(nc) OVER (ORDER BY v
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      |      FROM m),
      |tot AS (SELECT CAST(sum(nr) AS BIGINT) AS tr,
      |          CAST(sum(nc) AS BIGINT) AS tc FROM m)
      |SELECT tr AS n_ref, tc AS n_cur,
      |  CAST(round(round(abs(CAST(cr AS DOUBLE) / tr
      |    - CAST(cc AS DOUBLE) / tc), 6) * 1e6, 0) AS BIGINT) AS d_micro,
      |  round(v, 4) AS at_value
      |FROM c, tot
      |ORDER BY d_micro DESC, v LIMIT 1""".stripMargin))

  private val q190Dir = QueriesScale.sidePath("q190_pq_index")

  /** Persisted IVF-PQ serving path ([[graft.ops.Pq.writePqIndex]] /
    * [[graft.ops.Pq.appendPqIndex]] / [[graft.ops.Pq.pqTopKIndexed]]):
    * two thirds of the embeddings build the index, the last third
    * APPENDS (encoded with the STORED codebook and centroids — mixed
    * codebooks would corrupt every ADC lookup), and the query runs
    * from the cell-partitioned codes alone. The oracle replays the ADC
    * search from the stored artifacts (probe cells read back from the
    * codes table — assignment and storage provably agree), pinning the
    * full quantized ranking after the append.
    */
  val q190 = QueryDef("q190_pq_indexed_search", (spark, dir) => {
    QueriesScale.reapStaleSideTables("q190_pq_index")
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    graft.ops.Pq.writePqIndex(emb.filter(col("vec_id") % 3 =!= 0), q190Dir,
      m = 4, k = 16, cells = 16, seed = 42L)
    graft.ops.Pq.appendPqIndex(spark, q190Dir,
      emb.filter(col("vec_id") % 3 === 0))
    val probes = emb.filter(col("vec_id") % 25 === 0)
    graft.ops.Pq.pqTopKIndexed(spark, q190Dir, probes, topk = 5)
      .select("probe_id", "cand_id", "adc_micro", "rank")
  }, Some(
    s"""WITH codes AS (SELECT cand_id, cell, codes
       |               FROM read_parquet('$q190Dir/codes/*/*.parquet',
       |                                 hive_partitioning = true)),
       |cb AS (SELECT sub, code, centroid
       |       FROM read_parquet('$q190Dir/codebook/*.parquet')),
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

  /** Hybrid retrieval via reciprocal-rank fusion ([[graft.ops.Search
    * .rrfFuse]]): q142's BM25 top-10 (self-hits dropped, original rank
    * gaps kept) fused with the exact-cosine top-10 over the aligned
    * embeddings, `1/(60+rank)` micro contributions, fused top-5. The
    * oracle replays BOTH rankings and the integer fusion — the hybrid
    * ORDER is what the hash pins.
    */
  val q191 = QueryDef("q191_hybrid_rrf", (spark, dir) => {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val lexical = graft.ops.Search.bm25TopK(docs,
        QueriesAnalytics.bm25Queries(docs), "doc_id", "text",
        "query_id", "qtext", k = 10)
      .filter(col("query_id") =!= col("doc_id"))
      .select("query_id", "doc_id", "rank")
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
      .join(docs.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi")
    val probes = emb.filter(col("vec_id") % 29 === 0)
    val pn = probes.count()
    val semantic = graft.ops.Similarity.bruteForceTopK(emb, probes, k = 10,
        probeRows = Some(pn))
      .select(col("probe_id").as("query_id"), col("cand_id").as("doc_id"),
        col("rank"))
    graft.ops.Search.rrfFuse(Seq(lexical, semantic), "query_id", "doc_id",
        "rank", kConst = 60, topk = 5)
      .orderBy("query_id", "rank")
  }, Some(QueriesAnalytics.bm25OracleCte +
    s""",
       |bmr AS (SELECT query_id, doc_id, rank FROM ranked
       |        WHERE rank <= 10 AND query_id <> doc_id),
       |p0 AS (SELECT e.vec_id AS query_id, e.embedding AS pe
       |       FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
       |       WHERE e.vec_id % 29 = 0),
       |c0 AS (SELECT e.vec_id AS doc_id, e.embedding AS ce
       |       FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
       |es AS (SELECT query_id, c0.doc_id,
       |         ${QueriesScale.duckCos("pe", "ce")} AS cos
       |       FROM p0, c0 WHERE query_id <> c0.doc_id),
       |er AS (SELECT query_id, doc_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY round(cos, 6) DESC, doc_id) AS rank
       |       FROM es QUALIFY rank <= 10),
       |u AS (SELECT query_id, doc_id,
       |        CAST(round(round(1.0 / (60 + rank), 6) * 1e6, 0) AS BIGINT)
       |          AS c
       |      FROM bmr
       |      UNION ALL
       |      SELECT query_id, doc_id,
       |        CAST(round(round(1.0 / (60 + rank), 6) * 1e6, 0) AS BIGINT)
       |      FROM er),
       |f AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
       |        CAST(count(*) AS BIGINT) AS n_lists
       |      FROM u GROUP BY 1, 2),
       |fr AS (SELECT query_id, doc_id, rrf_micro, n_lists,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
       |       FROM f)
       |SELECT query_id, doc_id, rrf_micro, n_lists, rank
       |FROM fr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** Per-group exact heavy hitters ([[graft.ops.Sketches
    * .heavyHittersPerGroup]]): the tokens above 1% share of each
    * SOURCE — per-group Misra-Gries candidates under one shared pass,
    * exact recount, group-grain thresholds. The oracle is the exact
    * per-group GROUP BY with the identical IEEE ceil threshold.
    */
  val q192 = QueryDef("q192_heavy_hitters_per_group", (spark, dir) =>
    graft.ops.Sketches.heavyHittersPerGroup(
      t(spark, dir, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .filter(col("tok") =!= ""),
      "source", "tok", phi = 0.01)
      .orderBy("source", "tok"),
    Some(
      """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        |           FROM documents),
        |tt AS (SELECT source, tok FROM t WHERE tok <> ''),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_group
        |      FROM tt GROUP BY 1),
        |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        |      FROM tt GROUP BY 1, 2)
        |SELECT c.source, tok, cnt, n_group
        |FROM c JOIN s USING (source)
        |WHERE cnt >= CAST(ceil(0.01 * n_group) AS BIGINT)
        |ORDER BY source, tok""".stripMargin))

  /** Truncated-dimension retrieval eval (the Matryoshka/MRL question —
    * "how much recall do the first 16 of 64 dims keep?"): cosine top-10
    * over the PREFIX-truncated embeddings, measured against the
    * full-dimension ground truth through the hash-gated
    * [[graft.ops.Similarity.retrievalEval]] harness, so the
    * dimensionality-reduction trade is a pinned number, not a guess —
    * the q151/q179 discipline applied to a third approximation axis.
    */
  val q193 = QueryDef("q193_truncated_dim_recall", (spark, dir) => {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") % 100 === 0)
    val pn = probes.count()
    val exact = graft.ops.Similarity.bruteForceTopK(emb, probes, k = 10,
      probeRows = Some(pn))
    val trunc = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val approx = graft.ops.Similarity.bruteForceTopK(trunc,
      trunc.filter(col("vec_id") % 100 === 0), k = 10,
      probeRows = Some(pn))
    graft.ops.Similarity.retrievalEval(approx, exact).orderBy("probe_id")
  }, Some(
    s"""WITH p0 AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
       |            WHERE vec_id % 100 = 0),
       |c0 AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings),
       |ex_scored AS (
       |  SELECT probe_id, cand_id, ${QueriesScale.duckCos("pe", "ce")} AS cos
       |  FROM p0, c0 WHERE probe_id <> cand_id),
       |ex_ranked AS (SELECT probe_id, cand_id,
       |    row_number() OVER (PARTITION BY probe_id
       |                       ORDER BY round(cos, 6) DESC, cand_id) AS rank
       |  FROM ex_scored QUALIFY rank <= 10),
       |tp AS (SELECT vec_id AS probe_id, embedding[1:16] AS pe
       |       FROM embeddings WHERE vec_id % 100 = 0),
       |tc AS (SELECT vec_id AS cand_id, embedding[1:16] AS ce
       |       FROM embeddings),
       |ap_scored AS (
       |  SELECT probe_id, cand_id, ${QueriesScale.duckCos("pe", "ce")} AS cos
       |  FROM tp, tc WHERE probe_id <> cand_id),
       |ap_ranked AS (SELECT probe_id, cand_id,
       |    row_number() OVER (PARTITION BY probe_id
       |                       ORDER BY round(cos, 6) DESC, cand_id) AS rank
       |  FROM ap_scored QUALIFY rank <= 10),
       |exn AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact
       |        FROM ex_ranked GROUP BY 1),
       |hits AS (SELECT a.probe_id, CAST(count(*) AS BIGINT) AS nh,
       |           min(a.rank) AS first_r
       |         FROM ap_ranked a JOIN ex_ranked e
       |           ON e.probe_id = a.probe_id AND e.cand_id = a.cand_id
       |         GROUP BY 1)
       |SELECT exn.probe_id, n_exact,
       |  CAST(coalesce(nh, 0) AS BIGINT) AS n_hit,
       |  CAST(round(round(CAST(coalesce(nh, 0) AS DOUBLE) / n_exact, 6)
       |    * 1e6, 0) AS BIGINT) AS recall_micro,
       |  coalesce(CAST(round(round(1.0 / first_r, 6) * 1e6, 0) AS BIGINT), 0)
       |    AS rr_micro
       |FROM exn LEFT JOIN hits USING (probe_id)
       |ORDER BY probe_id""".stripMargin))

  /** Audio/video-header metadata ([[graft.ops.Multimodal.mediaMeta]]
    * over the codegen'd [[graft.functions.MediaMeta]] scan — q180's
    * time-media sibling): even docs synthesize a REAL RIFF/WAVE header
    * (little-endian fmt + data chunks), odd docs a minimal ISO-BMFF
    * `ftyp`+`moov/mvhd` (big-endian box walk), dims derived from
    * `doc_id`; the op must read channels / sample rate / duration back
    * OUT OF THE BYTES while the oracle replays only the planted
    * arithmetic — endianness or chunk-walk drift hash-fails.
    */
  val q194 = QueryDef("q194_media_meta", (spark, dir) => {
    val docs = t(spark, dir, "documents").select("doc_id")
    def be(c: org.apache.spark.sql.Column, w: Int) =
      lpad(lower(hex(c)), w, "0")
    def le32(c: org.apache.spark.sql.Column) = {
      val b = be(c, 8)
      concat(substring(b, 7, 2), substring(b, 5, 2),
        substring(b, 3, 2), substring(b, 1, 2))
    }
    def le16(c: org.apache.spark.sql.Column) = {
      val b = be(c, 4)
      concat(substring(b, 3, 2), substring(b, 1, 2))
    }
    val channels = expr("1 + (doc_id % 4) div 2")
    val rate = expr("8000 * (1 + doc_id % 3)")
    val byteRate = rate * channels * lit(2)
    val dataSize = byteRate * (expr("1 + doc_id % 5"))
    val wavHex = concat(lit("52494646" + "00000000" + "57415645" +
        "666d7420" + "10000000" + "0100"),
      le16(channels), le32(rate), le32(byteRate),
      le16(channels * 2), lit("1000"),
      lit("64617461"), le32(dataSize))
    val duration = lit(600) * expr("1 + doc_id % 7") + lit(300)
    val mp4Hex = concat(
      lit("00000010" + "66747970" + "69736f6d" + "00000000"),
      lit("00000024" + "6d6f6f76"),
      lit("0000001c" + "6d766864" + "00000000" + "00000000" + "00000000"),
      be(lit(600), 8), be(duration, 8))
    val payload = unhex(when(col("doc_id") % 2 === 0, wavHex)
      .otherwise(mp4Hex))
    graft.ops.Multimodal.mediaMeta(
        docs.withColumn("payload", payload), "payload")
      .select(col("doc_id"), col("format"), col("channels"),
        col("sample_rate"), col("duration_ms"))
      .orderBy("doc_id")
  }, Some(
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS format,
      |  CASE WHEN doc_id % 2 = 0
      |       THEN CAST(1 + (doc_id % 4) // 2 AS BIGINT) END AS channels,
      |  CASE WHEN doc_id % 2 = 0
      |       THEN CAST(8000 * (1 + doc_id % 3) AS BIGINT) END AS sample_rate,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1000 * (1 + doc_id % 5)
      |       ELSE (600 * (1 + doc_id % 7) + 300) * 1000 // 600
      |       END AS BIGINT) AS duration_ms
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** Balanced label downsampling ([[graft.ops.Sampling
    * .balancedDownsample]]): a skewed class column (three ~155-doc
    * groups vs one ~71-doc rare class) equalizes to the min class
    * size by deterministic md5-priority selection — the class-balance
    * step before training a classifier head. The oracle replays the
    * per-label rank with the identical portable hash and tie order.
    */
  val q195 = QueryDef("q195_balanced_downsample", (spark, dir) => {
    val docs = t(spark, dir, "documents").select("doc_id")
      .withColumn("cls", when(col("doc_id") % 7 === 0, "rare")
        .otherwise(concat(lit("grp"), (col("doc_id") % 3).cast("string"))))
    graft.ops.Sampling.balancedDownsample(docs, "cls", "doc_id",
        salt = "bal")
      .select(col("doc_id"), col("cls"), col("n_label"), col("n_keep"))
      .orderBy("doc_id")
  }, Some(
    """WITH d AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN 'rare'
      |         ELSE 'grp' || CAST(doc_id % 3 AS VARCHAR) END AS cls
      |  FROM documents),
      |sized AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_label
      |          FROM d GROUP BY 1),
      |tgt AS (SELECT CAST(min(n_label) AS BIGINT) AS n_keep FROM sized),
      |ranked AS (SELECT doc_id, cls,
      |    row_number() OVER (PARTITION BY cls ORDER BY
      |      CAST('0x' || substr(md5('bal' || CAST(doc_id AS VARCHAR)), 1, 15)
      |        AS BIGINT) % 1000000, doc_id) AS rn
      |  FROM d)
      |SELECT doc_id, r.cls, n_label, n_keep
      |FROM ranked r JOIN sized USING (cls), tgt
      |WHERE rn <= n_keep ORDER BY doc_id""".stripMargin))

  /** Per-label embedding-centroid drift ([[graft.ops.Similarity
    * .embeddingDrift]]): even-id vectors are the reference, odd-id
    * vectors the current snapshot with label 3's embeddings OFFSET by
    * +0.5 per component — a planted semantic shift in exactly one
    * class. The oracle replays the micro-int component sums, the
    * dimension-ordered mean assembly, and the ordered-fold cosine.
    */
  val q196 = QueryDef("q196_embedding_drift", (spark, dir) => {
    val emb = t(spark, dir, "embeddings")
      .select("vec_id", "embedding", "label")
    val ref = emb.filter(col("vec_id") % 2 === 0)
    val cur = emb.filter(col("vec_id") % 2 === 1)
      .withColumn("embedding",
        when(col("label") === 3,
          transform(col("embedding"), x => x + lit(0.5f)))
          .otherwise(col("embedding")))
    graft.ops.Similarity.embeddingDrift(ref, cur, "label", "embedding")
      .orderBy("label")
  }, Some(
    """WITH refe AS (SELECT label, embedding
      |              FROM embeddings WHERE vec_id % 2 = 0),
      |cure AS (SELECT label,
      |           CASE WHEN label = 3
      |                THEN list_transform(embedding, x -> x + 0.5::FLOAT)
      |                ELSE embedding END AS embedding
      |         FROM embeddings WHERE vec_id % 2 = 1),
      |rs AS (SELECT label, i,
      |         CAST(sum(CAST(round(embedding[i]::DOUBLE * 1e6, 0) AS BIGINT))
      |           AS BIGINT) AS s
      |       FROM refe, unnest(generate_series(1, len(embedding))) AS t(i)
      |       GROUP BY 1, 2),
      |cs AS (SELECT label, i,
      |         CAST(sum(CAST(round(embedding[i]::DOUBLE * 1e6, 0) AS BIGINT))
      |           AS BIGINT) AS s
      |       FROM cure, unnest(generate_series(1, len(embedding))) AS t(i)
      |       GROUP BY 1, 2),
      |rn AS (SELECT label, CAST(count(*) AS BIGINT) AS n_ref
      |       FROM refe GROUP BY 1),
      |cn AS (SELECT label, CAST(count(*) AS BIGINT) AS n_cur
      |       FROM cure GROUP BY 1),
      |ra AS (SELECT rs.label, rn.n_ref,
      |         list(rs.s::DOUBLE / rn.n_ref / 1e6 ORDER BY rs.i) AS m
      |       FROM rs JOIN rn USING (label) GROUP BY 1, 2),
      |ca AS (SELECT cs.label, cn.n_cur,
      |         list(cs.s::DOUBLE / cn.n_cur / 1e6 ORDER BY cs.i) AS m
      |       FROM cs JOIN cn USING (label) GROUP BY 1, 2),
      |j AS (SELECT coalesce(ra.label, ca.label) AS label,
      |        coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur,
      |        ra.m AS ma, ca.m AS mb
      |      FROM ra FULL OUTER JOIN ca ON ra.label = ca.label)
      |SELECT label, n_ref, n_cur,
      |  CASE WHEN ma IS NOT NULL AND mb IS NOT NULL THEN
      |    CAST(round(round(
      |      list_sum(list_transform(list_zip(ma, mb),
      |        x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
      |      (sqrt(list_sum(list_transform(ma, x -> x::DOUBLE * x))) *
      |       sqrt(list_sum(list_transform(mb, x -> x::DOUBLE * x)))), 6)
      |      * 1e6, 0) AS BIGINT)
      |  END AS centroid_cos_micro
      |FROM j ORDER BY label""".stripMargin))

  /** Per-slice PSI ([[graft.ops.Stats.psiByGroup]]): prices drift 10%
    * ONLY for return-flag `R` — the per-group edges must localize the
    * drift to R's rows while A/N stay near zero, instead of diluting
    * it into a corpus average. The oracle replays the per-group
    * quantile edges, bucketings, floors, and contributions.
    */
  val q197 = QueryDef("q197_psi_by_group", (spark, dir) => {
    val li = t(spark, dir, "lineitem")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .select(col("l_returnflag"),
        when(col("l_returnflag") === "R", col("l_extendedprice") * 1.1)
          .otherwise(col("l_extendedprice")).as("v"))
    graft.ops.Stats.psiByGroup(ref, cur, "l_returnflag", "v", bins = 10)
      .orderBy("group", "bucket")
  }, Some {
    val ps = (1 until 10).map(i => (i / 10.0).toString).mkString(", ")
    s"""WITH refv AS (SELECT l_returnflag AS grp, l_extendedprice AS v
       |              FROM lineitem
       |              WHERE l_orderkey % 2 = 0 AND l_extendedprice IS NOT NULL),
       |curv AS (SELECT l_returnflag AS grp,
       |           CASE WHEN l_returnflag = 'R' THEN l_extendedprice * 1.1
       |                ELSE l_extendedprice END AS v
       |         FROM lineitem
       |         WHERE l_orderkey % 2 = 1 AND l_extendedprice IS NOT NULL),
       |e AS (SELECT grp, list_transform(quantile_cont(v, [$ps]),
       |        x -> round(x, 4)) AS edges FROM refv GROUP BY grp),
       |rb AS (SELECT refv.grp,
       |         CAST(len(list_filter(e.edges, x -> v > x)) AS BIGINT)
       |           AS bucket, count(*) AS n_ref
       |       FROM refv JOIN e ON e.grp = refv.grp GROUP BY 1, 2),
       |cb AS (SELECT curv.grp,
       |         CAST(len(list_filter(e.edges, x -> v > x)) AS BIGINT)
       |           AS bucket, count(*) AS n_cur
       |       FROM curv JOIN e ON e.grp = curv.grp GROUP BY 1, 2),
       |grid0 AS (SELECT e.grp, g.bucket FROM e
       |          CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bucket) g),
       |grid AS (SELECT grid0.grp, grid0.bucket,
       |           CAST(coalesce(rb.n_ref, 0) AS BIGINT) AS n_ref,
       |           CAST(coalesce(cb.n_cur, 0) AS BIGINT) AS n_cur
       |         FROM grid0
       |         LEFT JOIN rb ON rb.grp = grid0.grp AND rb.bucket = grid0.bucket
       |         LEFT JOIN cb ON cb.grp = grid0.grp AND cb.bucket = grid0.bucket),
       |tot AS (SELECT grp, CAST(sum(n_ref) AS BIGINT) AS tr,
       |          CAST(sum(n_cur) AS BIGINT) AS tc
       |        FROM grid GROUP BY grp HAVING sum(n_cur) > 0)
       |SELECT grid.grp AS "group", bucket, n_ref, n_cur,
       |  CAST(round(round(greatest(CAST(n_ref AS DOUBLE) / tr, 0.000001), 6)
       |    * 1e6, 0) AS BIGINT) AS p_micro,
       |  CAST(round(round(greatest(CAST(n_cur AS DOUBLE) / tc, 0.000001), 6)
       |    * 1e6, 0) AS BIGINT) AS q_micro,
       |  CAST(round(round(
       |    (greatest(CAST(n_ref AS DOUBLE) / tr, 0.000001)
       |     - greatest(CAST(n_cur AS DOUBLE) / tc, 0.000001))
       |    * ln(greatest(CAST(n_ref AS DOUBLE) / tr, 0.000001)
       |         / greatest(CAST(n_cur AS DOUBLE) / tc, 0.000001)), 6)
       |    * 1e6, 0) AS BIGINT) AS psi_micro
       |FROM grid JOIN tot ON tot.grp = grid.grp
       |ORDER BY "group", bucket""".stripMargin
  })

  val all: Seq[QueryDef] = Seq(q178, q179, q180, q181, q182, q183, q184,
    q185, q186, q187, q188, q189, q190, q191, q192, q193, q194, q195,
    q196, q197)
}
