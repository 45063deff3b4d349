package graft

import org.apache.spark.sql.functions._
import graft.Queries.QueryDef
import graft.core.Tables

/** Round-7 curation/maintenance additions: targeted deletion (GDPR-style
  * file-pruned rewrite), cross-source corpus overlap (exact + KMV
  * estimate on one card), CCNet-style perplexity bucketing, and weighted
  * priority sampling.
  */
object QueriesCurate {

  private def t(spark: org.apache.spark.sql.SparkSession, dir: String, name: String) =
    Tables.load(spark, dir, name)

  /** Targeted delete round-trip (the GDPR maintenance op): orders is laid
    * out range-partitioned, every order of customers with
    * `o_custkey % 19 = 0` is deleted via [[graft.core.io.Maintenance
    * .deleteMatching]] (file-pruned rewrite — see DeleteSpec for the
    * untouched-file identity assertions), and the surviving dataset is
    * aggregated. The oracle applies the same predicate declaratively, so
    * any row lost or kept wrongly by the swap protocol breaks the hash.
    */
  val q124 = QueryDef("q124_targeted_delete", (spark, dir) => {
    val out = Queries.tmpDir("graft_q124")
    val ds = s"$out/orders_ds"
    val orders = t(spark, dir, "orders")
    orders.repartitionByRange(8, col("o_orderkey"))
      .write.mode("overwrite").parquet(ds)
    val ids = orders.filter(col("o_custkey") % 19 === 0).select("o_orderkey")
    graft.core.io.Maintenance.deleteMatching(spark, ds, "o_orderkey", ids)
    spark.read.parquet(ds)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }, Some(
    """SELECT o_orderstatus, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders WHERE o_custkey % 19 <> 0
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin))

  /** Cross-source corpus-overlap cards ([[graft.ops.Sketches
    * .kmvOverlapCards]]): every source pair gets its exact 3-shingle-set
    * overlap AND the KMV bottom-k estimate of the same quantity, side by
    * side — the validation-scale number next to the 100 TB-scale number,
    * both bit-replayed by the oracle (portable md5 hash60).
    */
  val q125 = {
    val k = 128
    QueryDef("q125_corpus_overlap", (spark, dir) => {
      val sh = t(spark, dir, "documents")
        .select(col("source"),
          explode(graft.functions.TextFunctions.shingles(col("text"), 3))
            .as("shingle"))
      graft.ops.Sketches.kmvOverlapCards(sh, "source", "shingle", k = k)
        .orderBy("grp_a", "grp_b")
    }, Some(
      s"""WITH toks AS (SELECT source, string_split(lower(text), ' ') AS l
         |              FROM documents),
         |pos AS (SELECT source, l, unnest(generate_series(1, len(l) - 2)) AS i
         |        FROM toks WHERE len(l) >= 3),
         |sh AS (SELECT DISTINCT source,
         |         l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
         |       FROM pos),
         |hv AS (SELECT DISTINCT source,
         |         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h
         |       FROM sh),
         |mk AS (SELECT source, h FROM (
         |         SELECT source, h,
         |           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |         FROM hv) WHERE rn <= $k),
         |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
         |pairs AS (SELECT a.source AS grp_a, a.n AS n_a,
         |            b.source AS grp_b, b.n AS n_b
         |          FROM sizes a JOIN sizes b ON a.source < b.source),
         |exp AS (SELECT p.grp_a, p.grp_b, m.h,
         |          max(CASE WHEN m.source = p.grp_a THEN 1 ELSE 0 END) AS in_a,
         |          max(CASE WHEN m.source = p.grp_b THEN 1 ELSE 0 END) AS in_b
         |        FROM pairs p JOIN mk m ON m.source IN (p.grp_a, p.grp_b)
         |        GROUP BY 1, 2, 3),
         |unk AS (SELECT grp_a, grp_b, in_a, in_b,
         |          row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS rn
         |        FROM exp),
         |est AS (SELECT grp_a, grp_b, count(*) AS union_k,
         |          CAST(sum(in_a * in_b) AS BIGINT) AS matched_k
         |        FROM unk WHERE rn <= $k GROUP BY 1, 2),
         |inter AS (SELECT a.source AS grp_a, b.source AS grp_b,
         |            count(*) AS inter
         |          FROM sh a JOIN sh b
         |            ON a.shingle = b.shingle AND a.source < b.source
         |          GROUP BY 1, 2)
         |SELECT p.grp_a, p.grp_b, p.n_a, p.n_b,
         |  coalesce(i.inter, 0) AS inter,
         |  p.n_a + p.n_b - coalesce(i.inter, 0) AS uni,
         |  round(coalesce(i.inter, 0)::DOUBLE
         |    / (p.n_a + p.n_b - coalesce(i.inter, 0)), 4) AS jaccard,
         |  e.union_k, e.matched_k,
         |  round(e.matched_k::DOUBLE / e.union_k, 4) AS est_jaccard
         |FROM pairs p
         |LEFT JOIN inter i ON i.grp_a = p.grp_a AND i.grp_b = p.grp_b
         |JOIN est e ON e.grp_a = p.grp_a AND e.grp_b = p.grp_b
         |ORDER BY 1, 2""".stripMargin))
  }

  /** CCNet head/middle/tail perplexity split ([[graft.ops.TextAnalysis
    * .perplexityBuckets]]): corpus-trained unigram-LM perplexity,
    * per-language terciles, one bucket tag per document. The oracle
    * retrains the identical LM and recomputes the identical terciles
    * (`percentile` == `quantile_cont`, both rounded to 4 before the
    * comparison), so a single document flipping bucket breaks the hash.
    */
  val q126 = QueryDef("q126_perplexity_buckets", (spark, dir) =>
    graft.ops.TextAnalysis.perplexityBuckets(
      t(spark, dir, "documents"), "doc_id", "text", "lang")
      .orderBy("doc_id"),
    Some(
      """WITH tk AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |vocab AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
        |tot AS (SELECT sum(c) AS n, count(*) AS v FROM vocab),
        |lp AS (SELECT doc_id, ln((c + 1.0) / (n + 1.0 * v)) AS lp
        |       FROM tk JOIN vocab USING (tok) CROSS JOIN tot),
        |scored AS (SELECT doc_id, round(exp(-avg(lp)), 2) AS ppl
        |           FROM lp GROUP BY doc_id),
        |sl AS (SELECT s.doc_id, d.lang, s.ppl
        |       FROM scored s JOIN documents d USING (doc_id)),
        |cuts AS (SELECT lang,
        |           round(quantile_cont(ppl, 1.0/3), 4) AS t1,
        |           round(quantile_cont(ppl, 2.0/3), 4) AS t2
        |         FROM sl GROUP BY lang)
        |SELECT sl.doc_id, sl.lang, sl.ppl, c.t1, c.t2,
        |  CASE WHEN sl.ppl <= c.t1 THEN 'head'
        |       WHEN sl.ppl <= c.t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sl JOIN cuts c USING (lang)
        |ORDER BY doc_id""".stripMargin))

  /** Weighted priority sampling ([[graft.ops.Sampling.prioritySample]],
    * Efraimidis–Spirakis): 100 documents drawn without replacement with
    * inclusion odds proportional to length. The oracle replays the md5
    * uniform, the ln(u)/w key in integer micro-units, and the exact
    * top-100 boundary.
    */
  val q127 = QueryDef("q127_priority_sample", (spark, dir) =>
    graft.ops.Sampling.prioritySample(
      t(spark, dir, "documents").select("doc_id", "n_chars"),
      "doc_id", "n_chars", n = 100, salt = "es")
      .select("doc_id", "n_chars", "key_micro"),
    Some(
      """SELECT doc_id, n_chars,
        |  CAST(round(round(ln((CAST('0x' || substr(md5('es' || doc_id), 1, 15)
        |                   AS BIGINT) + 0.5) / 1152921504606846976.0)
        |             / n_chars, 6) * 1e6, 0) AS BIGINT) AS key_micro
        |FROM documents WHERE n_chars > 0
        |ORDER BY key_micro DESC, doc_id LIMIT 100""".stripMargin))

  /** Column-level PII inventory ([[graft.ops.Checks.piiProfile]]):
    * emails/phones/IPs planted into a third/fifth/seventh of the docs,
    * then every string column scanned in ONE single-row aggregate. The
    * oracle is GENERATED from the same pattern list the operator uses,
    * so the two can never drift.
    */
  val q128 = {
    // single-line: this snippet is interpolated into a stripMargin
    // template, which would eat a leading || as a margin marker
    val plant =
      "text || CASE WHEN doc_id % 3 = 0 THEN ' reach me at user' || doc_id" +
        " || '@example.org' ELSE '' END" +
        " || CASE WHEN doc_id % 5 = 0 THEN ' call +1 (555) 222-3333'" +
        " ELSE '' END" +
        " || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.0.1' ELSE '' END"
    val cols = Seq("text", "lang", "source")
    val pats = graft.ops.TextAnalysis.piiPatterns
    val counters = (for { c <- cols; (k, re) <- pats } yield
      s"    CAST(sum(CASE WHEN regexp_matches($c, '$re') THEN 1 ELSE 0 END) " +
        s"AS BIGINT) AS ${c}_$k").mkString(",\n")
    val branches = (for { c <- cols; (k, _) <- pats } yield
      s"  SELECT '$c' AS column_name, '$k' AS kind, ${c}_$k AS n_hits, " +
        s"n_rows, round(${c}_$k::DOUBLE / n_rows, 6) AS hit_rate FROM agg")
      .mkString("\n  UNION ALL\n")
    QueryDef("q128_pii_profile", (spark, dir) => {
      val planted = t(spark, dir, "documents").select(
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" reach me at user"), col("doc_id"),
              lit("@example.org"))).otherwise(""),
          when(col("doc_id") % 5 === 0, lit(" call +1 (555) 222-3333"))
            .otherwise(""),
          when(col("doc_id") % 7 === 0, lit(" from 10.0.0.1")).otherwise(""))
          .as("text"),
        col("lang"), col("source"))
      graft.ops.Checks.piiProfile(planted).orderBy("column_name", "kind")
    }, Some(
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    $plant AS text,
         |    lang, source
         |  FROM documents),
         |agg AS (
         |  SELECT count(*) AS n_rows,
         |$counters
         |  FROM planted)
         |SELECT * FROM (
         |$branches)
         |ORDER BY column_name, kind""".stripMargin))
  }

  /** Stupid-Backoff bigram LM ([[graft.ops.TextAnalysis.bigramLmScore]]):
    * tables trained on even doc_ids, odd doc_ids scored held-out — so
    * the backoff and OOV branches actually fire and the oracle checks
    * all three scoring paths (bigram hit, unigram backoff, α²/N floor).
    */
  val q129 = QueryDef("q129_bigram_lm", (spark, dir) => {
    val docs = t(spark, dir, "documents")
    graft.ops.TextAnalysis.bigramLmScore(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text")
      .orderBy("doc_id")
  }, Some(
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS l
      |              FROM documents),
      |ttk AS (SELECT tok FROM (
      |          SELECT unnest(l) AS tok FROM toks WHERE doc_id % 2 = 0)
      |        WHERE tok <> ''),
      |uni AS (SELECT tok, count(*) AS uc FROM ttk GROUP BY tok),
      |tot AS (SELECT sum(uc) AS n FROM uni),
      |tbig AS (SELECT p, c FROM (
      |           SELECT l[i] AS p, l[i+1] AS c FROM (
      |             SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
      |             FROM toks WHERE doc_id % 2 = 0 AND len(l) >= 2))
      |         WHERE p <> '' AND c <> ''),
      |bcnt AS (SELECT p, c, count(*) AS bc FROM tbig GROUP BY p, c),
      |sbig AS (SELECT doc_id, p, c FROM (
      |           SELECT doc_id, l[i] AS p, l[i+1] AS c FROM (
      |             SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
      |             FROM toks WHERE doc_id % 2 = 1 AND len(l) >= 2))
      |         WHERE p <> '' AND c <> ''),
      |lp AS (SELECT s.doc_id,
      |         CASE WHEN b.bc IS NOT NULL THEN ln(b.bc::DOUBLE / up.uc)
      |              WHEN uc2.uc IS NOT NULL THEN ln(0.4 * uc2.uc / n)
      |              ELSE ln(0.16000000000000003 / n) END AS lp,
      |         CASE WHEN b.bc IS NOT NULL THEN 0 ELSE 1 END AS backoff,
      |         CASE WHEN uc2.uc IS NULL THEN 1 ELSE 0 END AS oov
      |       FROM sbig s
      |       LEFT JOIN bcnt b ON b.p = s.p AND b.c = s.c
      |       LEFT JOIN uni up ON up.tok = s.p
      |       LEFT JOIN uni uc2 ON uc2.tok = s.c
      |       CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  round(avg(lp), 4) AS avg_logscore,
      |  round(CAST(sum(backoff) AS BIGINT)::DOUBLE / count(*), 4)
      |    AS backoff_rate,
      |  round(CAST(sum(oov) AS BIGINT)::DOUBLE / count(*), 4) AS oov_rate
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** JSONL quarantine ingestion ([[graft.core.io.Reader
    * .readJsonQuarantine]]): orders rendered to JSONL with every
    * 97th-key line TRUNCATED mid-object; the load must route exactly
    * those to the quarantine lane and lose nothing else. The oracle
    * recomputes the survivors' aggregate and the corrupt count straight
    * from the orders table.
    */
  val q130 = QueryDef("q130_json_quarantine", (spark, dir) => {
    val out = Queries.tmpDir("graft_q130")
    val orders = t(spark, dir, "orders")
    val lines = orders.select(
      when(col("o_orderkey") % 97 === 0,
        concat(lit("{\"o_orderkey\": "), col("o_orderkey"), lit(", \"bro")))
        .otherwise(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")))).as("value"))
    lines.write.mode("overwrite").text(s"$out/jsonl")
    val q = graft.core.io.Reader.readJsonQuarantine(spark, s"$out/jsonl",
      "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE",
      quarantineDir = Some(s"$out/quarantine"))
    val nBad = q.bad.agg(count(lit(1)).as("n_corrupt"))
    q.good.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .crossJoin(broadcast(nBad))
      .orderBy("o_orderstatus")
  }, Some(
    """SELECT o_orderstatus, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders
      |   WHERE o_orderkey % 97 = 0) AS n_corrupt
      |FROM orders WHERE o_orderkey % 97 <> 0
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin))

  /** Schema-evolution scan: three parquet generations of the same
    * dataset (v1 without `o_orderpriority`, v2 with it, v3 with an extra
    * `ingest_tag` column) read back as ONE frame via `mergeSchema`, with
    * missing columns null-filled. The oracle replays the generation
    * split + null semantics from the orders table; a lost column or a
    * wrongly-defaulted value breaks the hash.
    */
  val q131 = QueryDef("q131_schema_evolution", (spark, dir) => {
    val out = Queries.tmpDir("graft_q131")
    val orders = t(spark, dir, "orders")
    orders.filter(col("o_orderkey") % 3 === 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.parquet(s"$out/ds/gen=1")
    orders.filter(col("o_orderkey") % 3 === 1)
      .select("o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .write.parquet(s"$out/ds/gen=2")
    orders.filter(col("o_orderkey") % 3 === 2)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"), lit("v3").as("ingest_tag"))
      .write.parquet(s"$out/ds/gen=3")
    spark.read.option("mergeSchema", "true").parquet(s"$out/ds")
      .groupBy(col("gen").cast("long").as("gen"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
          .as("null_priority"),
        sum(when(col("ingest_tag").isNull, 1L).otherwise(0L)).as("null_tag"),
        round(sum("o_totalprice"), 2).as("total"))
      .orderBy("gen")
  }, Some(
    """SELECT (o_orderkey % 3) + 1 AS gen, count(*) AS n,
      |  CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS null_priority,
      |  CAST(sum(CASE WHEN o_orderkey % 3 <> 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS null_tag,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY gen""".stripMargin))

  /** Point-in-time join ([[graft.ops.TemporalJoins.pointInTimeJoin]]):
    * customers' market segments are versioned (every 4th key re-labelled
    * `_V2` from 1998-01-01) and each order joins the segment that was
    * true ON ITS ORDER DATE. The oracle replays the interval join
    * declaratively; the left-join row-count preservation (exactly one
    * version per fact) is part of the hash.
    */
  val q132 = QueryDef("q132_point_in_time_join", (spark, dir) => {
    val cust = t(spark, dir, "customer")
    val dim = cust.select(col("c_custkey"), col("c_mktsegment").as("seg"),
        lit("1995-01-01").as("valid_from"),
        when(col("c_custkey") % 4 === 0, lit("1998-01-01"))
          .otherwise(lit(null).cast("string")).as("valid_to"))
      .unionByName(cust.filter(col("c_custkey") % 4 === 0)
        .select(col("c_custkey"),
          concat(col("c_mktsegment"), lit("_V2")).as("seg"),
          lit("1998-01-01").as("valid_from"),
          lit(null).cast("string").as("valid_to")))
    val facts = t(spark, dir, "orders").select(col("o_orderkey"),
      col("o_custkey").as("c_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
    graft.ops.TemporalJoins.pointInTimeJoin(facts, dim, "c_custkey", "day",
        Seq("seg"))
      .groupBy(coalesce(col("pit_seg"), lit("<none>")).as("seg"))
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      .orderBy("seg")
  }, Some(
    """WITH dim AS (
      |  SELECT c_custkey, c_mktsegment AS seg, '1995-01-01' AS vf,
      |    CASE WHEN c_custkey % 4 = 0 THEN '1998-01-01' END AS vt
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment || '_V2', '1998-01-01', NULL
      |  FROM customer WHERE c_custkey % 4 = 0),
      |f AS (SELECT o_orderkey, o_custkey,
      |        strftime(o_orderdate, '%Y-%m-%d') AS day FROM orders),
      |j AS (SELECT f.o_orderkey, d.seg
      |      FROM f LEFT JOIN dim d ON d.c_custkey = f.o_custkey
      |        AND d.vf <= f.day AND (d.vt IS NULL OR f.day < d.vt))
      |SELECT coalesce(seg, '<none>') AS seg, count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM j GROUP BY 1 ORDER BY seg""".stripMargin))

  /** STREAMING quarantine ingestion ([[graft.streaming.Streams
    * .quarantineJsonStream]]): the q130 corpus replayed through an
    * unbounded text file source, both lanes drained to sinks, and the
    * result held to the SAME oracle as the batch load — stream == batch
    * behind the hash gate.
    */
  val q133 = QueryDef("q133_stream_quarantine", (spark, dir) => {
    val out = Queries.tmpDir("graft_q133")
    val orders = t(spark, dir, "orders")
    orders.select(
      when(col("o_orderkey") % 97 === 0,
        concat(lit("{\"o_orderkey\": "), col("o_orderkey"), lit(", \"bro")))
        .otherwise(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")))).as("value"))
      .write.mode("overwrite").text(s"$out/jsonl")
    val q = graft.streaming.Streams.quarantineJsonStream(spark,
      s"$out/jsonl",
      "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
    val goodSink = s"q133_good_${System.nanoTime}"
    val badSink = s"q133_bad_${System.nanoTime}"
    graft.streaming.Streams.withStatePartitions(spark, 8) {
      val g = q.good.writeStream.format("memory").queryName(goodSink)
        .outputMode("append").start()
      val b = q.bad.writeStream.format("memory").queryName(badSink)
        .outputMode("append").start()
      try { g.processAllAvailable(); b.processAllAvailable() }
      finally { g.stop(); b.stop() }
    }
    val nBad = spark.table(badSink).agg(count(lit(1)).as("n_corrupt"))
    spark.table(goodSink).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .crossJoin(broadcast(nBad))
      .orderBy("o_orderstatus")
  }, q130.oracle)

  /** Schema contract gate ([[graft.ops.Checks.schemaContract]]) held
    * against a deliberately drifted contract over orders: one wrong
    * type, one missing column, one uncovered actual column. Zero data
    * scanned — the oracle is the literal expected report.
    */
  val q134 = QueryDef("q134_schema_contract", (spark, dir) => {
    val orders = t(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.ops.Checks.schemaContract(orders,
      "o_orderkey BIGINT, o_orderstatus INT, o_comment STRING")
  }, Some(
    """SELECT * FROM (VALUES
      |  ('o_comment', 'missing', 'string', NULL),
      |  ('o_orderstatus', 'type_mismatch', 'int', 'string'),
      |  ('o_totalprice', 'extra', NULL, 'double'))
      |  AS t(column_name, issue, expected, actual)
      |ORDER BY column_name, issue""".stripMargin))

  /** Bloom-pruned decontamination ([[graft.ops.TextAnalysis
    * .contaminationFlagsBloom]]): the SAME question as q55 answered
    * through the bloom-candidate plan — held to q55's exact oracle,
    * proving the bloom changes the shuffle volume, never the answer.
    */
  val q135 = QueryDef("q135_bloom_decontamination", (spark, dir) => {
    val docs = t(spark, dir, "documents")
    graft.ops.TextAnalysis.contaminationFlagsBloom(docs,
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        n = 8, minShared = 1, expectedGrams = 100000L)
      .orderBy("doc_id")
  }, QueriesScale.q55.oracle)

  /** Conversion-window funnel ([[graft.ops.Events.funnelWithin]]): the
    * q115 funnel with a 48 h bound between consecutive steps — the
    * oracle replays the bounded chained-minima windows, so a single
    * user converting outside the window breaks the hash.
    */
  val q136 = QueryDef("q136_funnel_within", (spark, dir) =>
    graft.ops.Events.funnelWithin(t(spark, dir, "events"), "user_id",
        "ts", "event_id", "event_type", Seq("view", "click", "purchase"),
        withinSeconds = 48L * 3600)
      .orderBy("step_idx"),
    Some(
      """WITH e AS (SELECT user_id, event_id, ts, event_type,
        |             epoch_us(ts) AS us
        |           FROM events),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
        |         OVER win AS t0 FROM e
        |       WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND t0 IS NOT NULL
        |                          AND us <= t0 + 172800000000
        |                          THEN us END) OVER win AS t1 FROM w1
        |       WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND t1 IS NOT NULL
        |                          AND us <= t1 + 172800000000
        |                          THEN us END) OVER win AS t2 FROM w2
        |       WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (SELECT user_id, min(t0) AS t0, min(t1) AS t1, min(t2) AS t2
        |      FROM w3 GROUP BY user_id)
        |SELECT * FROM (
        |  SELECT 1 AS step_idx, 'view' AS step,
        |    CAST(count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS BIGINT) AS n_users
        |  FROM u
        |  UNION ALL SELECT 2, 'click',
        |    CAST(count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS BIGINT) FROM u
        |  UNION ALL SELECT 3, 'purchase',
        |    CAST(count(CASE WHEN t2 IS NOT NULL THEN 1 END) AS BIGINT) FROM u)
        |ORDER BY step_idx""".stripMargin))

  /** CSV quarantine ([[graft.core.io.Reader.readCsvQuarantine]]): orders
    * rendered headerless-CSV with every 89th key TRUNCATED to two fields
    * — from_csv's strict corrupt semantics must route exactly those to
    * the quarantine lane; same oracle construction as q130.
    */
  val q137 = QueryDef("q137_csv_quarantine", (spark, dir) => {
    val out = Queries.tmpDir("graft_q137")
    val orders = t(spark, dir, "orders")
    orders.select(
      when(col("o_orderkey") % 89 === 0,
        concat_ws(",", col("o_orderkey"), col("o_orderstatus")))
        .otherwise(concat_ws(",", col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))).as("value"))
      .write.mode("overwrite").text(s"$out/csv")
    val q = graft.core.io.Reader.readCsvQuarantine(spark, s"$out/csv",
      "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE",
      quarantineDir = Some(s"$out/quarantine"))
    val nBad = q.bad.agg(count(lit(1)).as("n_corrupt"))
    q.good.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .crossJoin(broadcast(nBad))
      .orderBy("o_orderstatus")
  }, Some(
    """SELECT o_orderstatus, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders
      |   WHERE o_orderkey % 89 = 0) AS n_corrupt
      |FROM orders WHERE o_orderkey % 89 <> 0
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin))

  /** KMV-sketched rolling active users ([[graft.ops.Events
    * .activeUsersSketch]]) — q121's 100 TB path: per-day bottom-64 user
    * hashes, merged per window, k-th-order-statistic estimate. The
    * oracle replays the FULL union (no truncation): bottom-k of a union
    * equals bottom-k of pooled per-day bottom-k's, so the outputs
    * coincide exactly — the hash match IS the proof of that identity.
    * Sub-k windows (1-day) take the exact branch; 7/30-day take the
    * estimator.
    */
  val q138 = {
    val k = 64
    val windows = Seq(1, 7, 30)
    val wCtes = windows.map { w =>
      s"""r$w AS (SELECT tday, h,
         |        row_number() OVER (PARTITION BY tday ORDER BY h) AS rn,
         |        count(*) OVER (PARTITION BY tday) AS n
         |      FROM dh WHERE mi < $w),
         |e$w AS (SELECT tday,
         |        round(CASE WHEN max(n) < $k THEN max(n)::DOUBLE
         |          ELSE ${k - 1} * 1152921504606846976.0
         |               / max(CASE WHEN rn = $k THEN h END) END, 2)
         |          AS au_${w}d_est
         |      FROM r$w GROUP BY tday)""".stripMargin
    }.mkString(",\n")
    val joins = windows.map(w => s"JOIN e$w ON e$w.tday = d.day")
      .mkString("\n")
    QueryDef("q138_active_users_sketch", (spark, dir) =>
      graft.ops.Events.activeUsersSketch(t(spark, dir, "events"),
          "user_id", "ts", windows, k = k)
        .orderBy("day"),
      Some(
        s"""WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS day,
           |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
           |      AS BIGINT) AS h
           |  FROM events),
           |days AS (SELECT DISTINCT day FROM pairs),
           |ex AS (SELECT CAST(day + i * INTERVAL 1 DAY AS DATE) AS tday, h, i
           |       FROM (SELECT day, h,
           |               unnest(generate_series(0, ${windows.max - 1})) AS i
           |             FROM pairs)),
           |dh AS (SELECT tday, h, min(i) AS mi FROM ex GROUP BY 1, 2),
           |$wCtes
           |SELECT strftime(d.day, '%Y-%m-%d') AS day,
           |  ${windows.map(w => s"e$w.au_${w}d_est").mkString(", ")}
           |FROM days d
           |$joins
           |ORDER BY day""".stripMargin))
  }

  /** Per-group weighted sampling ([[graft.ops.Sampling
    * .prioritySamplePerGroup]]): 10 length-weighted documents per
    * source; the oracle replays the E-S keys and the per-group rank
    * boundary (QUALIFY).
    */
  val q139 = QueryDef("q139_priority_sample_per_group", (spark, dir) =>
    graft.ops.Sampling.prioritySamplePerGroup(
      t(spark, dir, "documents").select("doc_id", "source", "n_chars"),
      "doc_id", "source", "n_chars", n = 10, salt = "es")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("key_micro"), col("rank").cast("long").as("rank"))
      .orderBy("source", "rank"),
    Some(
      """SELECT doc_id, source, n_chars, key_micro, rank FROM (
        |  SELECT doc_id, source, n_chars,
        |    CAST(round(round(ln((CAST('0x' || substr(md5('es' || doc_id), 1, 15)
        |                     AS BIGINT) + 0.5) / 1152921504606846976.0)
        |               / n_chars, 6) * 1e6, 0) AS BIGINT) AS key_micro,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY CAST(round(round(ln((CAST('0x' ||
        |          substr(md5('es' || doc_id), 1, 15) AS BIGINT) + 0.5)
        |          / 1152921504606846976.0) / n_chars, 6) * 1e6, 0) AS BIGINT)
        |          DESC, doc_id) AS rank
        |  FROM documents WHERE n_chars > 0)
        |WHERE rank <= 10
        |ORDER BY source, rank""".stripMargin))

  /** Index vacuum + compact ([[graft.ops.Dedup.vacuumNearDupIndex]] /
    * [[graft.ops.Dedup.compactNearDupIndex]]) — GDPR on the PERSISTED
    * near-dup index: q86's corpus index is built, every corpus doc the
    * delta near-duplicates (doc_id % 20 = 0) is forgotten (a tombstone
    * append — ~deleted-ids write cost, zero index-file rewrites), the
    * physical scrub compacts the tombstones away, then the q70 delta
    * ingests. The oracle is q70's recursive replay with those docs
    * EXCLUDED from the corpus — the planted near-dups that q86 rejects
    * must now be ACCEPTED, or the vacuum/compact left ghost shingles
    * behind. The tombstone-only lane (no compact) gates separately as
    * q178.
    */
  val q140 = QueryDef("q140_index_vacuum", (spark, dir) => {
    val (corpus, delta) = QueriesText.q70Corpus(spark, dir)
    graft.ops.IndexStore.dropTables(spark,
      Seq("_shingles", "_buckets", "_meta", "_tombstones").map("q140idx" + _))
    val idx = graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text",
      "q140idx", numBuckets = 8)
    graft.ops.Dedup.vacuumNearDupIndex(spark, "q140idx",
      corpus.filter(col("doc_id") % 20 === 0).select("doc_id"))
    graft.ops.Dedup.compactNearDupIndex(spark, "q140idx")
    graft.ops.Dedup.dropNearDuplicatesAgainst(idx, delta, "doc_id",
        "text", threshold = 0.8, maxBandFreq = None,
        appendAccepted = false)
      .orderBy("doc_id")
  }, QueriesText.q70.oracle.map(_.replace(
    "corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)",
    "corpus AS (SELECT doc_id, text FROM documents " +
      "WHERE doc_id % 2 = 0 AND doc_id % 20 <> 0)")))

  /** T5-style span corruption ([[graft.ops.TextAnalysis
    * .spanCorruption]]): deterministic block-aligned denoising pairs;
    * the oracle rebuilds every input/target string token-for-token,
    * sentinel numbering included.
    */
  val q141 = QueryDef("q141_span_corruption", (spark, dir) =>
    graft.ops.TextAnalysis.spanCorruption(
      t(spark, dir, "documents"), "doc_id", "text",
      spanLen = 3, maskRate = 0.15, salt = "t5")
      .orderBy("doc_id"),
    Some(
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS l
        |           FROM documents),
        |nb AS (SELECT doc_id, l, CAST(ceil(len(l) / 3.0) AS INT) AS nb
        |       FROM t WHERE NOT (len(l) = 1 AND l[1] = '')),
        |bx AS (SELECT doc_id, l, unnest(generate_series(0, nb - 1)) AS b
        |       FROM nb),
        |blk AS (SELECT doc_id, b,
        |          array_to_string(l[b*3+1 : b*3+3], ' ') AS btext,
        |          (CAST('0x' || substr(md5('t5' || doc_id || ':' || b), 1, 15)
        |             AS BIGINT) % 10000) < 1500 AS masked
        |        FROM bx),
        |numbered AS (SELECT doc_id, b, btext, masked,
        |          coalesce(CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY b
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |            AS BIGINT), 0) AS k
        |        FROM blk)
        |SELECT doc_id,
        |  count(*) AS n_blocks,
        |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_masked,
        |  string_agg(CASE WHEN masked THEN '<extra_id_' || k || '>'
        |                  ELSE btext END, ' ' ORDER BY b) AS input_text,
        |  coalesce(string_agg('<extra_id_' || k || '> ' || btext, ' '
        |             ORDER BY b) FILTER (WHERE masked), '') AS target_text
        |FROM numbered GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(q124, q125, q126, q127, q128, q129, q130,
    q131, q132, q133, q134, q135, q136, q137, q138, q139, q140, q141)
}
