package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** Full-text retrieval over the document corpus: BM25 (Robertson &
  * Zaragoza 2009) scored through the classic inverted-index join, the
  * lexical side of training-data curation — hard-negative mining for
  * retrieval training, prompt/eval lookup, and "find the corpus docs
  * that answer this query" audits. The reference frames all search as
  * ad-hoc SQL (`yaetos/etl_utils.py:466-471` `query` — SparkSQL
  * strings over registered views); graft makes the ranked-retrieval
  * shape first-class.
  *
  * Scale shape (the 100 TB contract):
  *  - ONE corpus-sized token aggregation builds the postings
  *    (`(doc_id, term, tf)`, map-side combined), and doc lengths are a
  *    second aggregate over the POSTINGS (already one row per
  *    (doc, term)), never a second pass over raw tokens.
  *  - The query term list broadcasts and SEMI-PRUNES the postings
  *    before anything else happens — only postings of queried terms
  *    flow into scoring, so per-query cost tracks result size, not
  *    corpus size.
  *  - Document frequency is computed from the pruned postings (df of a
  *    term not in any query is never needed).
  *  - Per-term contributions are quantized to integer MICRO-units
  *    before the per-(query, doc) sum, so the score is an order-free
  *    BIGINT sum — deterministic under any shuffle order and
  *    bit-replayable on another engine (the [[graft.ops.Dsir]]
  *    convention).
  *  - Top-k per query is a rank-filtered window (WindowGroupLimit
  *    pushdown — no query group ever sorts more than k rows per
  *    input partition).
  */
object Search {

  /** `round(round(x, 6) * 1e6)` as BIGINT — the portable micro-unit
    * quantization shared with [[Dsir.logpMicro]].
    */
  private def micro(x: Column): Column =
    round(round(x, 6) * lit(1e6), 0).cast("long")

  /** BM25 top-k documents per query.
    *
    * @param docs     corpus; `idCol` (any orderable id) + `textCol`
    * @param queries  query set; `queryIdCol` + `queryTextCol`
    * @param k        results per query
    * @param k1       term-frequency saturation (default 1.2)
    * @param b        length normalization (default 0.75)
    *
    * Output `(query_id, doc_id, n_terms, score_micro, rank)`, ranked by
    * `(score_micro DESC, doc_id)` — ties break on the id, never on
    * float noise. `score_micro` is the BIGINT sum of micro-quantized
    * per-term contributions
    * `idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))` with
    * `idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))` (the standard
    * non-negative BM25+ idf). Queries whose terms match nothing are
    * absent from the output.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame,
               idCol: String, textCol: String,
               queryIdCol: String, queryTextCol: String,
               k: Int = 5, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val postings = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

    // Doc lengths + corpus stats from the postings, not the raw tokens.
    val dl = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))

    val qTerms = queryTerms(queries, queryIdCol, queryTextCol)
    // Query vocabulary broadcasts; postings are pruned to it FIRST.
    val pruned = postings.join(broadcast(qTerms.select("term").distinct()), "term")
    scoreAndRank(pruned, qTerms, dl, stats, k, k1, b)
  }

  private def queryTerms(queries: DataFrame, queryIdCol: String,
                         queryTextCol: String): DataFrame =
    queries
      .select(col(queryIdCol).as("query_id"),
        explode(tokens(col(queryTextCol))).as("term"))
      .filter(col("term") =!= "")
      .distinct()

  /** Shared scoring tail: `pruned` must hold exactly the postings of the
    * queried terms — document frequency is counted FROM it (correct by
    * construction, and append-safe for the indexed path: df is never a
    * stale stored statistic).
    */
  private def scoreAndRank(pruned: DataFrame, qTerms: DataFrame,
                           dl: DataFrame, stats: DataFrame,
                           k: Int, k1: Double, b: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    val dfT = pruned.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val contrib = pruned
      .join(broadcast(qTerms), "term")
      .join(dl, "doc_id") // pruned side is small post-prune; AQE broadcasts it
      .crossJoin(broadcast(stats))
      .join(broadcast(dfT), "term")
      .withColumn("_idf",
        log(lit(1.0) + (col("n_docs") - col("df_docs") + lit(0.5)) /
          (col("df_docs") + lit(0.5))))
      .withColumn("_tfc",
        col("tf").cast("double") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / col("avgdl"))))
      .withColumn("_c_micro", micro(col("_idf") * col("_tfc")))

    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("_c_micro").as("score_micro"))

    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        col("score_micro"), col("rank"))
  }

  /** Handle to a persisted BM25 index (see [[writeBm25Index]]). */
  final case class Bm25Index(name: String, numBuckets: Int) {
    def postingsTable: String = s"${name}_postings"
    def doclensTable: String = s"${name}_doclens"
    def metaTable: String = s"${name}_meta"
    def tombstonesTable: String = s"${name}_tombstones"
  }

  /** Materialize the inverted index for `corpus`: the postings table
    * `(term, doc_id, tf)` BUCKETED (and sorted) on the term, the
    * doc-length table `(doc_id, dl)` bucketed on the doc, and a one-row
    * stats table `(n_docs, sum_dl, num_buckets)` holding EXACT integer
    * corpus totals. This is the persisted form of exactly what
    * [[bm25TopK]] recomputes from raw text per call — the
    * [[graft.ops.Dedup.writeNearDupIndex]] pattern applied to
    * retrieval. At 100 TB the tokenize+aggregate cost becomes a
    * one-time write, and each query batch reads only the BUCKETS its
    * terms hash into (bucket pruning on the `isin` filter), so query
    * cost tracks the queried postings, not the corpus.
    *
    * Doc lengths and totals are derived FROM the stored postings so the
    * tables can never drift.
    */
  def writeBm25Index(corpus: DataFrame, idCol: String, textCol: String,
                     name: String, numBuckets: Int = 32): Bm25Index = {
    val spark = corpus.sparkSession
    val idx = Bm25Index(name, numBuckets)
    graft.core.io.Writer.writeBucketed(
      corpus
        .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf")),
      idx.postingsTable, Seq("term"), numBuckets)
    val stored = spark.table(idx.postingsTable)
    graft.core.io.Writer.writeBucketed(
      stored.groupBy("doc_id").agg(sum("tf").as("dl")),
      idx.doclensTable, Seq("doc_id"), numBuckets)
    import spark.implicits._
    // totals from the just-written DOCLENS table (one row per doc) — the
    // previous form re-scanned and re-aggregated the far larger postings
    // table a second time for the same numbers
    val (n, s) = spark.table(idx.doclensTable)
      .agg(count(lit(1)), coalesce(sum("dl"), lit(0L)))
      .as[(Long, Long)].head()
    graft.core.io.Writer.writeTable(
      Seq((n, s, numBuckets)).toDF("n_docs", "sum_dl", "num_buckets"),
      idx.metaTable)
    idx
  }

  /** The BM25 family's [[IndexStore]]: key `doc_id`, the postings and
    * doclens tables, and the meta table as its exact-recount summary.
    * Tombstone rows are `(doc_id, dl)` — the doc length is captured at
    * vacuum time so the visible corpus stats can be derived by exact
    * integer subtraction even after the physical doclens rows are
    * scrubbed mid-compact. The recount reads the stored doclens (never
    * incremental arithmetic), which is what makes every append
    * idempotent under replay.
    */
  private[graft] def bm25Store(spark: SparkSession, name: String): IndexStore = {
    val doclens = s"${name}_doclens"
    val meta = s"${name}_meta"
    IndexStore(spark, "doc_id", s"${name}_tombstones",
      Seq(s"${name}_postings", doclens),
      summary = Some(meta -> (() => spark.table(doclens)
        .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("sum_dl"))
        .crossJoin(spark.table(meta).select("num_buckets")))))
  }

  /** Heal a [[compactBm25Index]] / [[appendBm25Index]] crashed between
    * swap steps — run before trusting any table (load/vacuum/compact/
    * append/search all do; cost is a few catalog calls). The
    * [[IndexStore]] heal rule: a staged postings/doclens table rolls
    * FORWARD when its original is missing, BACK otherwise; the staged
    * meta recount rolls FORWARD when the live meta is missing OR the
    * tombstones are gone (the crash fell after compact's tombstone drop,
    * or after an append's recount — either way the recount is the
    * truth), and BACK while tombstones remain (reads stay consistent on
    * `old meta − Σ tombstone dl`; the next compact redoes the recount).
    */
  def healBm25Staging(spark: SparkSession, name: String): Unit =
    bm25Store(spark, name).open(): Unit

  /** Forget documents FROM the persisted BM25 index — the
    * [[graft.ops.Dedup.vacuumNearDupIndex]] tombstone protocol applied
    * to retrieval: a GDPR delete that scrubs the corpus but leaves the
    * inverted index holding the forgotten docs' postings would keep
    * RETURNING deleted content in every ranking (and keep its term
    * vector derivable). The forget ids (with their doc lengths,
    * captured now) APPEND to a small tombstones table; every read hides
    * them via a broadcast anti-join and derives the visible corpus
    * stats as `meta − Σ tombstoned dl` — exact integer subtraction, so
    * the tombstone-hidden ranking is bit-identical to an index rebuilt
    * without the forgotten docs (oracle-gated as q198). Write cost is
    * ~deleted-ids; the physical scrub batches into
    * [[compactBm25Index]], run inside the compliance window.
    *
    * Returns the number of VISIBLE indexed docs tombstoned.
    */
  def vacuumBm25Index(spark: SparkSession, name: String,
                      ids: DataFrame): Long = {
    val idx = loadBm25Index(spark, name)
    val store = bm25Store(spark, name)
    // crash-orphan guard: a requested id ABSENT from doclens can still
    // hold postings — an append that crashed between the postings and
    // doclens writes and was never replayed. Left untombstoned, those
    // postings keep inflating document frequency (and the doc's term
    // vector stays derivable) — a silent GDPR miss. Probe the postings
    // ONLY for the unmatched ids (empty on every clean-path vacuum, so
    // the ~deleted-ids cost contract is untouched) and tombstone
    // orphans with NULL dl: they were never counted into the meta
    // totals, so the visible-stats subtraction must skip them
    // ([[bm25TopKIndexed]] counts only non-null dl into `tn`).
    def withOrphans(matched: DataFrame, idList: DataFrame): DataFrame = {
      val unmatched = store.hide(idList.join(
        spark.table(idx.doclensTable).select("doc_id"), Seq("doc_id"), "left_anti"))
      if (unmatched.take(1).isEmpty) matched
      else matched.unionByName(spark.table(idx.postingsTable)
        .join(broadcast(unmatched), Seq("doc_id"), "left_semi")
        .select("doc_id").distinct()
        .select(col("doc_id"), lit(null).cast("long").as("dl")))
    }
    store.vacuum(ids, spark.table(idx.doclensTable).select("doc_id", "dl"),
      withOrphans)
  }

  /** Physically scrub tombstoned docs — the batched second half of
    * [[vacuumBm25Index]]: per-table gated staged rewrite of postings
    * and doclens (gated on THAT table's own tombstone membership — the
    * [[graft.ops.Dedup.compactNearDupIndex]] crash-resume rule), then
    * an exact meta recount, tombstones dropped in between so the
    * [[healBm25Staging]] meta rule can classify any crash point.
    * Returns the docs physically scrubbed.
    */
  def compactBm25Index(spark: SparkSession, name: String): Long = {
    loadBm25Index(spark, name)
    bm25Store(spark, name).compact()
  }

  /** Load an index handle written by [[writeBm25Index]], cross-checking
    * the meta bucket count against the catalog's physical bucket spec
    * (drift would break the bucket-pruned read contract — fail loudly).
    */
  def loadBm25Index(spark: SparkSession, name: String): Bm25Index = {
    val store = bm25Store(spark, name).open()
    val idx = Bm25Index(name,
      spark.table(s"${name}_meta").head().getAs[Int]("num_buckets"))
    store.requireBuckets(idx.numBuckets, idx.metaTable)
    idx
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09) — the standard
    * hybrid-retrieval baseline: each input list contributes
    * `1 / (kConst + rank)` per (query, item), summed across lists, and
    * the fused top-k re-ranks on that score. Rank positions are taken
    * AS GIVEN (a caller who filters self-hits keeps the original rank
    * gaps — document the choice, both are standard). Contributions
    * micro-quantize per entry, so the fused score is an order-free
    * BIGINT sum and ties break on item id — engine-replayable.
    *
    * Scale shape: inputs are already k·|queries| rows (the retrieval
    * ops own the corpus-sized work); fusion is one union, one
    * aggregate, one WindowGroupLimit top-k.
    *
    * Output: `(queryCol, itemCol, rrf_micro, n_lists, rank)`,
    * `rank <= topk` per query by `(rrf_micro DESC, item)`.
    */
  def rrfFuse(lists: Seq[DataFrame], queryCol: String, itemCol: String,
              rankCol: String, kConst: Int = 60, topk: Int = 10): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(kConst >= 1 && topk >= 1, "kConst and topk must be >= 1")
    val contrib = lists.map(_.select(
        col(queryCol).as("_q"), col(itemCol).as("_i"),
        round(round(lit(1.0) / (lit(kConst) + col(rankCol)), 6) * lit(1e6), 0)
          .cast("long").as("_c")))
      .reduce(_.unionByName(_))
    val w = Window.partitionBy("_q")
      .orderBy(col("rrf_micro").desc, col("_i"))
    contrib.groupBy("_q", "_i")
      .agg(sum("_c").as("rrf_micro"), count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topk)
      .select(col("_q").as(queryCol), col("_i").as(itemCol),
        col("rrf_micro"), col("n_lists"), col("rank"))
  }

  /** Append a document delta to a persisted index: postings and doc
    * lengths append into the bucketed layout (no rewrite of existing
    * files), and the one-row stats table is refreshed by EXACT RECOUNT
    * of the stored doclens through a staged swap. Document frequency is
    * never stored (it is counted from the queried postings at search
    * time), so appends cannot stale it.
    *
    * IDEMPOTENT per table (the [[graft.ops.Dedup.appendToNearDupIndex]]
    * discipline): each append first anti-joins the batch's doc ids
    * against that table's existing ids, and the meta refresh is a
    * recount — so the append is AT-LEAST-ONCE: a crash at any boundary
    * (after the postings append, after the doclens append, mid meta
    * swap) is repaired by simply re-running the same batch; the retry
    * fills exactly what is missing and the recount lands the stats on
    * the same value a clean run produces (spec-gated at each kill
    * point). Cost: one ids-only scan of each index table per batch.
    *
    * Appending a TOMBSTONED doc_id fails loudly (as in the near-dup
    * ingest): new rows under a hidden id would stay hidden, and
    * un-hiding would resurrect the forgotten rows — run
    * [[compactBm25Index]] first.
    */
  def appendBm25Index(delta: DataFrame, idCol: String, textCol: String,
                      idx: Bm25Index): Unit =
    appendBm25Index(delta, idCol, textCol, idx, assumeFresh = false)

  /** `assumeFresh = true`: the caller proves (streaming lanes'
    * pre-append high-water mark, ids unique across the stream) the
    * batch's ids were never appended, so the per-table ids-only
    * anti-join probes — whose cost scales with the INDEX, not the
    * batch — are skipped. Replays must pass false. The meta recount is
    * unconditional either way.
    */
  def appendBm25Index(delta: DataFrame, idCol: String, textCol: String,
                      idx: Bm25Index, assumeFresh: Boolean): Unit = {
    val store = bm25Store(delta.sparkSession, idx.name).open()
    store.requireNotTombstoned(delta.select(idCol), "appendBm25Index",
      "compactBm25Index")
    val post = delta
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val materialized = graft.core.Checkpoints.truncate(post)
    store.append(idx.postingsTable, materialized, assumeFresh)
    // doclens derives from the full batch, not the postings-fresh subset:
    // a crash after the postings append must still fill the doclens rows
    store.append(idx.doclensTable,
      materialized.groupBy("doc_id").agg(sum("tf").as("dl")), assumeFresh)
    store.recount()
  }

  /** Hard-negative mining for retrieval training: pairs that are
    * LEXICALLY similar (they came out of a BM25 ranking) but
    * SEMANTICALLY distant (embedding cosine below the threshold) are
    * the contrastive negatives that actually teach a dense retriever
    * something (the standard BM25-negatives recipe, e.g. DPR,
    * Karpukhin et al. 2020).
    *
    * `pairs` is a ranked result set (`queryCol`, `itemCol`, any extra
    * columns ride through); both sides attach their embedding by id and
    * score with the ordered-fold cosine, micro-quantized. Output adds
    * `(cos_micro, is_hard_negative)`.
    *
    * Scale shape: the pair table is k·|queries| rows — AQE broadcasts
    * it against the embedding table twice; the corpus-sized side is
    * only ever scanned, never shuffled.
    */
  def hardNegatives(pairs: DataFrame, emb: DataFrame,
                    queryCol: String = "query_id", itemCol: String = "doc_id",
                    vecIdCol: String = "vec_id", embCol: String = "embedding",
                    cosThresholdMicro: Long = 300000L): DataFrame = {
    val qv = emb.select(col(vecIdCol).as("_qid"), col(embCol).as("_qv"))
    val dv = emb.select(col(vecIdCol).as("_did"), col(embCol).as("_dv"))
    pairs
      .join(qv, col(queryCol) === col("_qid"))
      .join(dv, col(itemCol) === col("_did"))
      .withColumn("cos_micro",
        micro(graft.functions.VectorFunctions.cosine(col("_qv"), col("_dv"))))
      .withColumn("is_hard_negative", col("cos_micro") < lit(cosThresholdMicro))
      .drop("_qid", "_qv", "_did", "_dv")
  }

  /** BM25 top-k through a persisted index — bit-identical to
    * [[bm25TopK]] over the same corpus (the q147 hash gate holds the
    * indexed path to the q142 oracle). The distinct query terms are
    * collected (bounded by `maxQueryTerms` — queries are the small,
    * interactive side by definition) into an `isin` filter, which
    * Spark's bucket pruning turns into a read of ONLY the buckets those
    * terms hash into; the doc-length attach broadcasts the pruned
    * postings against the bucketed doclens table, so no corpus-sized
    * shuffle exists anywhere in the query path.
    */
  def bm25TopKIndexed(spark: SparkSession, idx: Bm25Index,
                      queries: DataFrame,
                      queryIdCol: String, queryTextCol: String,
                      k: Int = 5, k1: Double = 1.2, b: Double = 0.75,
                      maxQueryTerms: Int = 10000): DataFrame = {
    val store = bm25Store(spark, idx.name).open()
    val qTerms = queryTerms(queries, queryIdCol, queryTextCol)
    val terms = qTerms.select("term").distinct()
      .limit(maxQueryTerms + 1).collect().map(_.getString(0))
    require(terms.length <= maxQueryTerms,
      s"query batch exceeds $maxQueryTerms distinct terms — " +
        "split the batch or raise maxQueryTerms")
    val ts = store.tombstoneRows
    val pruned = store.hide(spark.table(idx.postingsTable)
      .filter(col("term").isin(terms.toIndexedSeq: _*)), ts)
    val dl = store.hide(spark.table(idx.doclensTable), ts)
    // visible corpus stats: meta − Σ tombstoned dl — exact integer
    // subtraction (the tombstones carry the dl captured at vacuum
    // time), so the hidden ranking equals a rebuild without the
    // forgotten docs. The tombstone aggregate is a bounded driver
    // collect (rows = forget backlog). NULL-dl tombstones are
    // crash-orphans that were never counted into meta (postings-only —
    // see [[vacuumBm25Index]]): count(dl) skips them, sum ignores them.
    val (tn, tsum) = ts match {
      case Some(t) =>
        import spark.implicits._
        t.agg(count(col("dl")), coalesce(sum("dl"), lit(0L)))
          .as[(Long, Long)].head()
      case None => (0L, 0L)
    }
    // guard the avgdl division: tombstoning EVERY doc leaves 0 visible
    // docs — the result is empty anyway (everything is hidden), but the
    // stats row must not carry a NaN through the plan
    val visN = col("n_docs") - lit(tn)
    val stats = broadcast(spark.table(idx.metaTable)
      .select(visN.as("n_docs"),
        when(visN > 0,
          (col("sum_dl") - lit(tsum)).cast("double") / visN)
          .otherwise(lit(0.0)).as("avgdl")))
    scoreAndRank(pruned, qTerms, dl, stats, k, k1, b)
  }
}
