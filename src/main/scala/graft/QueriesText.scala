package graft

import org.apache.spark.sql.functions._
import graft.Queries.QueryDef
import graft.core.Tables
import graft.functions.NativeFunctions
import graft.ops.{Dedup, Sampling, TextAnalysis, WebText}

/** Round-4 training-data operators behind the hash gate: line-grain
  * corpus dedup, Unicode normalization, domain capping, TF-IDF keywords,
  * stratified mix sampling. Oracles replay the identical arithmetic in
  * DuckDB (see QueriesScale's conventions: deterministic ORDER BY,
  * rounded doubles, BIGINT counts, tie-broken rankings).
  */
object QueriesText {

  private def t(spark: org.apache.spark.sql.SparkSession, dir: String, name: String) =
    Tables.load(spark, dir, name)

  /** Corpus-wide line-level dedup (C4-style boilerplate removal): three
    * boilerplate lines are planted across overlapping doc subsets (every
    * 3rd/4th/5th doc), each must survive only at its first corpus
    * position, and documents must reassemble in original line order.
    */
  val q65 = QueryDef("q65_line_dedup", (spark, dir) => {
    val corpus = t(spark, dir, "documents").select(col("doc_id"),
      concat_ws("\n",
        when(col("doc_id") % 3 === 0, lit("accept cookies to continue")),
        substring(col("text"), 1, 150),
        when(col("doc_id") % 4 === 0, lit("subscribe to our newsletter now")),
        when(col("doc_id") % 5 === 0, lit("all rights reserved worldwide"))
      ).as("text"))
    Dedup.dedupLines(corpus, "doc_id", "text").orderBy("doc_id")
  }, Some(
    """WITH corpus AS (
      |  SELECT doc_id, concat_ws(chr(10),
      |    CASE WHEN doc_id % 3 = 0 THEN 'accept cookies to continue' END,
      |    substr(text, 1, 150),
      |    CASE WHEN doc_id % 4 = 0 THEN 'subscribe to our newsletter now' END,
      |    CASE WHEN doc_id % 5 = 0 THEN 'all rights reserved worldwide' END) AS text
      |  FROM documents),
      |spl AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM corpus),
      |ln AS (SELECT doc_id, i - 1 AS idx, l[i] AS line
      |       FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
      |             FROM spl)),
      |ranked AS (SELECT doc_id, idx, line,
      |             row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
      |           FROM ln),
      |kept AS (SELECT doc_id, idx, line FROM ranked WHERE rn = 1),
      |tot AS (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY doc_id),
      |reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text,
      |               count(*) AS n_kept
      |        FROM kept GROUP BY doc_id)
      |SELECT reb.doc_id, text, n_kept, n_lines - n_kept AS n_dropped
      |FROM reb JOIN tot ON reb.doc_id = tot.doc_id
      |ORDER BY reb.doc_id""".stripMargin))

  /** Unicode NFC normalization via the native [[NormalizeUtf8]] codegen
    * expression: decomposed sequences (e + combining acute, u + combining
    * diaeresis) are planted next to precomposed characters; the hash pins
    * the normalized bytes (md5) and the code-point shrink.
    */
  val q66 = QueryDef("q66_nfc_normalize", (spark, dir) => {
    val planted = t(spark, dir, "documents").select(col("doc_id"),
      concat(substring(col("text"), 1, 80),
        lit(" café éclair über straße")).as("text"))
    val norm = NativeFunctions.normNfc(col("text"))
    planted.select(col("doc_id"),
        length(col("text")).cast("long").as("len_raw"),
        length(norm).cast("long").as("len_nfc"),
        md5(norm).as("nfc_md5"),
        (length(col("text")) =!= length(norm)).as("changed"))
      .orderBy("doc_id")
  }, Some(
    """WITH planted AS (
      |  SELECT doc_id,
      |    substr(text, 1, 80) || ' cafe' || chr(769) || ' ' || chr(233) ||
      |    'clair u' || chr(776) || 'ber stra' || chr(223) || 'e' AS text
      |  FROM documents),
      |n AS (SELECT doc_id, text, nfc_normalize(text) AS nfc FROM planted)
      |SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS len_raw,
      |  CAST(length(nfc) AS BIGINT) AS len_nfc,
      |  md5(nfc) AS nfc_md5,
      |  length(text) <> length(nfc) AS changed
      |FROM n ORDER BY doc_id""".stripMargin))

  /** Domain extraction + per-domain document cap: synthetic URLs spread
    * docs over 37 domains; at most 5 docs per domain survive, first-by-id,
    * with tracking query/fragment stripped from the canonical URL.
    */
  val q67 = QueryDef("q67_domain_cap", (spark, dir) => {
    val urls = t(spark, dir, "documents").select(col("doc_id"),
      concat(lit("https://www.site"), (col("doc_id") % 37).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string"),
        lit("?utm_source=feed&sid=abc#frag")).as("url"))
    WebText.capPerDomain(urls, "url", cap = 5, order = Seq(col("doc_id")))
      .select(col("doc_id"), col("domain"),
        WebText.normalizeUrl(col("url")).as("url_norm"),
        col("domain_rank").cast("long").as("domain_rank"))
      .orderBy("doc_id")
  }, Some(
    """WITH urls AS (
      |  SELECT doc_id,
      |    'https://www.site' || (doc_id % 37) || '.example.com/p/' || doc_id ||
      |      '?utm_source=feed&sid=abc#frag' AS url
      |  FROM documents),
      |d AS (SELECT doc_id, url,
      |        regexp_extract(lower(url),
      |          '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?(?:www\.)?([^/:?#]+)', 1)
      |          AS domain,
      |        regexp_extract(url, '^([^?#]*)', 1) AS url_norm
      |      FROM urls),
      |ranked AS (SELECT doc_id, domain, url_norm,
      |             row_number() OVER (PARTITION BY domain ORDER BY doc_id)
      |               AS domain_rank
      |           FROM d)
      |SELECT doc_id, domain, url_norm, CAST(domain_rank AS BIGINT) AS domain_rank
      |FROM ranked WHERE domain_rank <= 5
      |ORDER BY doc_id""".stripMargin))

  /** Top-3 TF-IDF terms per document over the whole corpus vocabulary;
    * ranking tie-broken on (rounded score, term) so both engines agree.
    */
  val q68 = QueryDef("q68_tfidf_terms", (spark, dir) =>
    TextAnalysis.tfidfTopTerms(t(spark, dir, "documents"), "doc_id", "text", k = 3)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("doc_id", "rank"),
    Some(
      """WITH tr AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |           FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tr GROUP BY doc_id, term),
        |dfx AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, term, tf, df_docs,
        |    tf::DOUBLE * ln(n_docs::DOUBLE / df_docs) AS score
        |  FROM tf JOIN dfx USING (term) CROSS JOIN n),
        |ranked AS (SELECT doc_id, term, tf, df_docs, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY round(score, 6) DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tf, df_docs, round(score, 4) AS score,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin))

  /** Stratified training-mix sampling: per-language keep fractions (en
    * halved, de whole, es quartered, fr at 10%) with `zh` falling to the
    * 5% default — membership a pure function of (salt, doc_id).
    */
  val q69 = QueryDef("q69_stratified_sample", (spark, dir) => {
    val docs = t(spark, dir, "documents").select("doc_id", "lang")
    Sampling.stratifiedHashSample(docs, "doc_id", "lang", salt = "mix1",
        fractions = Seq("en" -> 0.5, "de" -> 1.0, "es" -> 0.25, "fr" -> 0.1),
        defaultFraction = 0.05)
      .withColumn("bucket", Sampling.hashBucket(col("doc_id"), "mix1", 10000))
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")
  }, Some(
    """SELECT doc_id, lang, bucket FROM (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 10000 AS bucket
      |  FROM documents)
      |WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
      |                         WHEN 'es' THEN 2500 WHEN 'fr' THEN 1000
      |                         ELSE 500 END
      |ORDER BY doc_id""".stripMargin))

  /** Prefix-named word-3-gram shingle CTE chain over `src` — the
    * QueriesScale.duckShingles shape, parametrized so one query can
    * shingle two corpora (delta + history) without CTE name collisions.
    */
  private def duckShinglesP(p: String, src: String): String =
    s"""${p}toks AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM $src),
       |${p}pos AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
       |           FROM ${p}toks WHERE len(l) >= 3),
       |${p}sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
       |          FROM ${p}pos),
       |${p}sizes AS (SELECT doc_id, count(*) AS n_sh FROM ${p}sh GROUP BY doc_id)""".stripMargin

  /** Incremental ingest dedup: even docs play the existing corpus, odd
    * docs plus near-dup variants of every 20th even doc play today's
    * delta. Within-delta clusters collapse keep-min-id, then any survivor
    * near-duplicating the CORPUS drops — without re-pairing the corpus.
    * The oracle replays both stages with exact Jaccard; minhash recall at
    * 0.8 (64 hashes / 16 bands) makes the outputs identical, the same
    * contract q27/q63 pin.
    */
  private[graft] def q70Corpus(spark: org.apache.spark.sql.SparkSession,
                        dir: String) = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(col("text"), lit(" extra trailing words here")).as("text")))
    (corpus, delta)
  }

  val q70 = QueryDef("q70_delta_neardup", (spark, dir) => {
    val (corpus, delta) = q70Corpus(spark, dir)
    Dedup.dropNearDuplicatesAgainst(corpus, delta, "doc_id", "text",
        threshold = 0.8, n = 3, maxBandFreq = None)
      .orderBy("doc_id")
  }, Some(
    s"""WITH RECURSIVE
       |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |          UNION ALL
       |          SELECT doc_id + 300000, text || ' extra trailing words here'
       |          FROM documents WHERE doc_id % 20 = 0),
       |${duckShinglesP("d", "delta")},
       |dinter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
       |           FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2),
       |dpairs AS (SELECT a_id, b_id FROM dinter
       |           JOIN dsizes sa ON sa.doc_id = dinter.a_id
       |           JOIN dsizes sb ON sb.doc_id = dinter.b_id
       |           WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= 0.8),
       |edges AS (SELECT a_id AS s, b_id AS d FROM dpairs
       |          UNION ALL SELECT b_id, a_id FROM dpairs),
       |walk(id, lbl) AS (
       |  SELECT s, s FROM edges GROUP BY s
       |  UNION
       |  SELECT e.s, walk.lbl FROM edges e JOIN walk ON walk.id = e.d),
       |comp AS (SELECT id, min(lbl) AS comp FROM walk GROUP BY id),
       |dkeep AS (SELECT doc_id, text FROM delta
       |          WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> comp)),
       |${duckShinglesP("c", "corpus")},
       |ksh AS (SELECT doc_id, shingle FROM dsh
       |        WHERE doc_id IN (SELECT doc_id FROM dkeep)),
       |xinter AS (SELECT c.doc_id AS c_id, k.doc_id AS d_id, count(*) AS n_inter
       |           FROM csh c JOIN ksh k ON c.shingle = k.shingle GROUP BY 1, 2),
       |xdrop AS (SELECT DISTINCT d_id FROM xinter
       |          JOIN csizes cs ON cs.doc_id = xinter.c_id
       |          JOIN dsizes ds ON ds.doc_id = xinter.d_id
       |          WHERE n_inter::DOUBLE / (cs.n_sh + ds.n_sh - n_inter) >= 0.8)
       |SELECT doc_id, text FROM dkeep
       |WHERE doc_id NOT IN (SELECT d_id FROM xdrop)
       |ORDER BY doc_id""".stripMargin))

  /** Deterministic sequence packing: greedy fixed-budget bin layout per
    * md5 shard — the pretraining batch-assembly step. The layout (shard,
    * bin, offset) is a pure function of (salt, id, token counts), so both
    * engines derive it independently and must agree bit-for-bit.
    */
  val q71 = QueryDef("q71_pack_sequences", (spark, dir) => {
    val docs = t(spark, dir, "documents").select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
    Sampling.packSequences(docs, "doc_id", "n_tokens", budget = 2048L,
        shards = 8, salt = "pack")
      .orderBy("doc_id")
  }, Some(
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
      |    CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 8 AS shard
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens, shard,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start
      |  FROM d)
      |SELECT doc_id, n_tokens, shard,
      |  CAST(start // 2048 AS BIGINT) AS bin,
      |  CAST(start % 2048 AS BIGINT) AS bin_offset
      |FROM c ORDER BY doc_id""".stripMargin))

  /** The pack layout MATERIALIZED into training rows
    * ([[Sampling.packedText]]): q71's exact (shard, bin) assignment, but
    * each bin's documents concatenated `<eos>`-joined in id order. The
    * oracle replays the same layout CTE and aggregates with
    * `string_agg(... ORDER BY doc_id)` — byte-identical packed text.
    */
  val q96 = QueryDef("q96_packed_text", (spark, dir) => {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
    Sampling.packedText(docs, "doc_id", "text", "n_tokens", budget = 2048L,
        shards = 8, salt = "pack")
      .orderBy("shard", "bin")
  }, Some(
    """WITH d AS (
      |  SELECT doc_id, text,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
      |    CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 8 AS shard
      |  FROM documents),
      |c AS (SELECT doc_id, text, n_tokens, shard,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start
      |  FROM d)
      |SELECT shard, CAST(start // 2048 AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  string_agg(text, '<eos>' ORDER BY doc_id) AS packed_text
      |FROM c GROUP BY shard, CAST(start // 2048 AS BIGINT)
      |ORDER BY shard, bin""".stripMargin))

  /** KMV distinct-count sketch per event type: unlike HLL, the estimate
    * is a pure function of the value set (portable md5 hash, k-th order
    * statistic), so BOTH engines compute the identical sketch AND the
    * identical estimate — an approximate algorithm under an exact hash
    * gate.
    */
  val q72 = QueryDef("q72_kmv_distinct", (spark, dir) =>
    ops.Sketches.kmvDistinct(t(spark, dir, "events"), Seq("event_type"),
        "user_id", k = 64)
      .orderBy("event_type"),
    Some(
      """WITH h AS (SELECT DISTINCT event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hh
        |  FROM events),
        |ranked AS (SELECT event_type, hh,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn
        |  FROM h),
        |mk AS (SELECT event_type, count(*) AS n_kept, max(hh) AS kth_hash
        |       FROM ranked WHERE rn <= 64 GROUP BY event_type)
        |SELECT event_type, n_kept, kth_hash,
        |  round(CASE WHEN n_kept < 64 THEN n_kept::DOUBLE
        |             ELSE 63.0 * 1152921504606846976 / kth_hash END, 2)
        |    AS est_distinct
        |FROM mk ORDER BY event_type""".stripMargin))

  /** Z-order (Morton) clustering value over two bucketed event
    * dimensions — the write-layout primitive behind multi-dimension file
    * pruning. The bit interleave is pure integer math, replayed in SQL
    * bit-for-bit.
    */
  val q73 = QueryDef("q73_zorder_value", (spark, dir) => {
    val ev = t(spark, dir, "events")
      .select(col("event_id"),
        pmod(col("user_id"), lit(1024L)).as("ux"),
        pmod(col("event_id"), lit(1024L)).as("ey"))
    ev.select(col("event_id"), col("ux"), col("ey"),
        ops.Layout.zValue(Seq(col("ux"), col("ey")), bits = 10).as("z"))
      .orderBy("event_id")
  }, Some {
    val interleave = (0 until 10).flatMap(i => Seq(
      s"(((ux >> $i) & 1) << ${2 * i})",
      s"(((ey >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    s"""SELECT event_id, ux, ey, $interleave AS z
       |FROM (SELECT event_id, user_id % 1024 AS ux, event_id % 1024 AS ey
       |      FROM events)
       |ORDER BY event_id""".stripMargin
  })


  /** STREAMING exact dedup held to the batch oracle: the q24 duplicated
    * corpus (every 7th doc re-appears under a shifted id) replays through
    * a file stream into `dropDuplicatesWithinWatermark` on the content
    * fingerprint. Only the KEY column is compared — which duplicate row
    * survives is arrival-order-dependent by design, but the emitted key
    * SET must equal DuckDB's batch DISTINCT exactly: one row per distinct
    * fingerprint, none lost, none emitted twice.
    */
  val q74 = QueryDef("q74_stream_dedup", (spark, dir) => {
    val out = Queries.tmpDir("graft_q74")
    val docs = t(spark, dir, "documents").select(col("doc_id"),
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("fp")))
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .write.parquet(s"$out/ev")
    val stream = graft.streaming.Streams.readFileStream(spark,
      graft.core.model.DatasetSpec(path = s"$out/ev", format = "parquet"),
      "doc_id BIGINT, fp STRING, ts TIMESTAMP")
    val dd = graft.streaming.Streams.dedupStream(stream, "ts", Seq("fp"),
      watermarkDelay = "1 second")
    val sink = s"q74_sink_${System.nanoTime}"
    graft.streaming.Streams.withStatePartitions(spark, 8) {
      val q = dd.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(sink).select("fp").orderBy("fp")
  }, Some(
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0)
      |SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |FROM corpus ORDER BY fp""".stripMargin))

  /** The q70 ingest through the PERSISTED near-dup index: write the
    * corpus index (three bucketed catalog tables), ingest the delta
    * against it with `appendAccepted = true`, and hold the accepted rows
    * to the SAME DuckDB oracle as the recompute path — the bit-identical
    * claim of `Dedup.writeNearDupIndex`, behind the hash gate. The
    * re-ingest-drops-everything property of the grown index is pinned in
    * NearDupIndexSpec.
    */
  val q86 = QueryDef("q86_neardup_index", (spark, dir) => {
    val (corpus, delta) = q70Corpus(spark, dir)
    Seq("_shingles", "_buckets", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS q86idx$s"))
    // 8 bucket files per table at this fixture scale (the 100 TB knob
    // stays `numBuckets` — size it to executor count × target file size)
    val idx = Dedup.writeNearDupIndex(corpus, "doc_id", "text", "q86idx",
      numBuckets = 8)
    Dedup.dropNearDuplicatesAgainst(idx, delta, "doc_id", "text",
        threshold = 0.8, maxBandFreq = None, appendAccepted = true)
      .orderBy("doc_id")
  }, q70.oracle)

  /** Incremental EXACT dedup through the PERSISTED fingerprint index
    * (`Dedup.writeFingerprintIndex` + `dropExactDuplicatesAgainst`): the
    * corpus is the even docs, the delta is the odd docs plus two dup
    * families — every %10 doc re-appears with trailing whitespace (drops
    * against the corpus: the fingerprint normalizes whitespace) and every
    * odd %7 doc re-appears verbatim under a shifted id (drops within the
    * delta, keep-first by id). The oracle replays both stages in SQL; the
    * append path runs (`appendAccepted = true`), its grown-index semantics
    * pinned in FingerprintIndexSpec.
    */
  val q87 = QueryDef("q87_fingerprint_index", (spark, dir) => {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit("   ")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 14 === 7)
        .select((col("doc_id") + 700000).as("doc_id"), col("text")))
    spark.sql("DROP TABLE IF EXISTS q87idx_fps")
    val idx = Dedup.writeFingerprintIndex(corpus, "text", "q87idx",
      numBuckets = 8)
    Dedup.dropExactDuplicatesAgainst(idx, delta, "doc_id", "text",
        appendAccepted = true)
      .orderBy("doc_id")
  }, Some(
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      |delta AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT doc_id + 500000, text || '   ' FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 700000, text FROM documents WHERE doc_id % 14 = 7),
      |fps AS (SELECT doc_id, text,
      |        md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |        FROM delta),
      |keepfirst AS (
      |  SELECT doc_id, text, fp FROM (
      |    SELECT doc_id, text, fp,
      |           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |    FROM fps) WHERE rn = 1)
      |SELECT doc_id, text FROM keepfirst
      |WHERE fp NOT IN (
      |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |  FROM corpus)
      |ORDER BY doc_id""".stripMargin))

  /** STREAMING near-dup ingest held to the batch oracle: the q70 delta
    * replays through a file stream (one file per micro-batch, odd docs
    * before the near-dup variants so cross-batch cluster minima arrive
    * first) into [[graft.streaming.Streams.nearDupSink]] against the q86
    * corpus index. The union of per-batch accepted increments must equal
    * the batch recompute's survivor set — the SAME DuckDB oracle as
    * q70/q86. Replay idempotency (crash between index append and
    * checkpoint commit) is pinned in StreamsSpec.
    */
  val q101 = QueryDef("q101_stream_neardup", (spark, dir) => {
    val (corpus, delta) = q70Corpus(spark, dir)
    Seq("_shingles", "_buckets", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS q101idx$s"))
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", "q101idx",
      numBuckets = 8)
    val out = Queries.tmpDir("graft_q101")
    // two single-file micro-batches in id order: all odd docs, then the
    // +300000 variants (file-source order = modification time, oldest
    // first; coalesce(1) keeps each write one file so the batch split is
    // exactly the intended one)
    delta.filter(col("doc_id") < 300000).coalesce(1)
      .write.mode("append").parquet(s"$out/in")
    delta.filter(col("doc_id") >= 300000).coalesce(1)
      .write.mode("append").parquet(s"$out/in")
    val stream = graft.streaming.Streams.readFileStream(spark,
      graft.core.model.DatasetSpec(path = s"$out/in", format = "parquet",
        readOptions = Map("maxFilesPerTrigger" -> "1")),
      "doc_id BIGINT, text STRING")
    graft.streaming.Streams.withStatePartitions(spark, 8) {
      val q = graft.streaming.Streams.nearDupSink(stream, "q101idx",
        "doc_id", "text", threshold = 0.8, maxBandFreq = None,
        acceptedPath = s"$out/acc", checkpoint = s"$out/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(s"$out/acc/batch*").orderBy("doc_id")
  }, q70.oracle)

  /** Cross-document SUBSTRING-level dedup (ExactSubstr at k-token chunk
    * grain): a 10-token boilerplate phrase is planted MID-document in
    * every 3rd doc and a second phrase in every 4th — inside the token
    * stream, not on line boundaries, so line/whole-doc dedup can't see
    * them. Each phrase must survive only in its first host doc; every
    * later host loses exactly the covered tokens. The oracle replays the
    * identical window fingerprinting, first-occurrence ranking, coverage
    * union, and token-level reassembly.
    */
  val q99 = QueryDef("q99_span_dedup", (spark, dir) => {
    val phrase1 = "this website uses cookies to improve your experience please accept"
    val phrase2 = "subscribe to our weekly newsletter for updates and exclusive offers"
    val corpus = t(spark, dir, "documents").select(col("doc_id"),
      concat_ws(" ",
        substring(col("text"), 1, 100),
        when(col("doc_id") % 3 === 0, lit(phrase1)),
        substring(col("text"), 101, 80),
        when(col("doc_id") % 4 === 0, lit(phrase2)),
        substring(col("text"), 181, 60)
      ).as("text"))
    Dedup.dedupSpans(corpus, "doc_id", "text", k = 8).orderBy("doc_id")
  }, Some(
    """WITH corpus AS (
      |  SELECT doc_id, concat_ws(' ',
      |    substr(text, 1, 100),
      |    CASE WHEN doc_id % 3 = 0 THEN 'this website uses cookies to improve your experience please accept' END,
      |    substr(text, 101, 80),
      |    CASE WHEN doc_id % 4 = 0 THEN 'subscribe to our weekly newsletter for updates and exclusive offers' END,
      |    substr(text, 181, 60)) AS text
      |  FROM documents),
      |spl AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
      |wins AS (SELECT doc_id, i AS start,
      |           md5(array_to_string(l[i : i + 7], ' ')) AS wkey
      |         FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 7)) AS i
      |               FROM spl WHERE len(l) >= 8)),
      |grp AS (SELECT wkey, count(DISTINCT doc_id) AS n_docs
      |        FROM wins GROUP BY wkey),
      |ranked AS (SELECT doc_id, start, wkey,
      |             row_number() OVER (PARTITION BY wkey
      |                                ORDER BY doc_id, start) AS rn
      |           FROM wins),
      |cut AS (SELECT doc_id, start FROM ranked JOIN grp USING (wkey)
      |        WHERE n_docs >= 2 AND rn > 1),
      |cov AS (SELECT DISTINCT doc_id, pos FROM
      |        (SELECT doc_id, unnest(generate_series(start, start + 7)) AS pos
      |         FROM cut)),
      |tok AS (SELECT doc_id, i AS pos, l[i] AS tok
      |        FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
      |              FROM spl)),
      |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
      |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
      |         WHERE cov.doc_id IS NULL),
      |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
      |               count(*) AS n_kept
      |        FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, len(l) AS n_toks FROM spl)
      |SELECT reb.doc_id, text, n_kept, n_toks - n_kept AS n_removed
      |FROM reb JOIN tot ON reb.doc_id = tot.doc_id
      |ORDER BY reb.doc_id""".stripMargin))

  /** Span-level decontamination ([[Dedup.dedupSpansAgainst]]): the
    * reference set is the `doc_id % 50` eval slice plus a fixed QA
    * phrase; every 7th corpus doc carries the phrase mid-document, and
    * the eval docs' own leading tokens appear verbatim in the corpus
    * rendering. Only the contaminated spans go — surrounding text
    * survives token-exact. The oracle replays window fingerprints, the
    * reference window-set join, coverage union, and reassembly.
    */
  val q107 = QueryDef("q107_span_decontaminate", (spark, dir) => {
    val phrase = "the quick benchmark question answer pairs appear here verbatim today"
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val corpus = docs.select(col("doc_id"),
      concat_ws(" ",
        substring(col("text"), 1, 100),
        when(col("doc_id") % 7 === 0, lit(phrase)),
        substring(col("text"), 101, 100)
      ).as("text"))
    val ref = docs.filter(col("doc_id") % 50 === 0)
      .unionByName(spark.range(1).select(lit(999999L).as("doc_id"),
        lit(phrase).as("text")))
    Dedup.dedupSpansAgainst(corpus, ref, "doc_id", "text", k = 8)
      .orderBy("doc_id")
  }, Some(
    """WITH corpus AS (
      |  SELECT doc_id, concat_ws(' ',
      |    substr(text, 1, 100),
      |    CASE WHEN doc_id % 7 = 0 THEN 'the quick benchmark question answer pairs appear here verbatim today' END,
      |    substr(text, 101, 100)) AS text
      |  FROM documents),
      |ref AS (SELECT text FROM documents WHERE doc_id % 50 = 0
      |        UNION ALL
      |        SELECT 'the quick benchmark question answer pairs appear here verbatim today'),
      |rspl AS (SELECT string_split(text, ' ') AS l FROM ref),
      |refw AS (SELECT DISTINCT md5(array_to_string(l[i : i + 7], ' ')) AS wkey
      |         FROM (SELECT l, unnest(generate_series(1, len(l) - 7)) AS i
      |               FROM rspl WHERE len(l) >= 8)),
      |spl AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
      |wins AS (SELECT doc_id, i AS start,
      |           md5(array_to_string(l[i : i + 7], ' ')) AS wkey
      |         FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 7)) AS i
      |               FROM spl WHERE len(l) >= 8)),
      |cut AS (SELECT doc_id, start FROM wins JOIN refw USING (wkey)),
      |cov AS (SELECT DISTINCT doc_id, pos FROM
      |        (SELECT doc_id, unnest(generate_series(start, start + 7)) AS pos
      |         FROM cut)),
      |tok AS (SELECT doc_id, i AS pos, l[i] AS tok
      |        FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
      |              FROM spl)),
      |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
      |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
      |         WHERE cov.doc_id IS NULL),
      |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
      |               count(*) AS n_kept
      |        FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, len(l) AS n_toks FROM spl)
      |SELECT reb.doc_id, text, n_kept, n_toks - n_kept AS n_removed
      |FROM reb JOIN tot ON reb.doc_id = tot.doc_id
      |ORDER BY reb.doc_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(q65, q66, q67, q68, q69, q70, q71, q72, q73,
    q74, q86, q87, q96, q99, q101, q107)
}
