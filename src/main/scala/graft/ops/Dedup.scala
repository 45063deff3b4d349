package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions

/** Deduplication operators for large document corpora.
  *
  * Design notes for the 100 TB case:
  *  - every path is a pure DataFrame plan — no collect, no driver loops;
  *  - "keep first" semantics are explicit (`row_number` over a declared
  *    order), never `dropDuplicates`' arbitrary-row semantics, so results
  *    are deterministic across partitionings and reruns;
  *  - candidate generation (shingle join / LSH bands) shuffles on the
  *    shingle/band key, so pair verification only touches co-bucketed
  *    docs — the full O(n²) pair space is never materialized;
  *  - extremely frequent shingles (stop-shingles) can be frequency-pruned
  *    before the join to bound skew (`maxShingleFreq`).
  */
/** Handle to a persisted MinHash/LSH near-duplicate index — catalog
  * tables prefixed by `name`: `_shingles` (doc_id, shingle, n_sh; bucketed
  * on doc_id), `_buckets` (doc_id, band, bandhash; bucketed on the pairing
  * join key), `_meta` (the parameters) and, for a BPE-piece index, the
  * `_merges` table. Write with [[Dedup.writeNearDupIndex]], reopen with
  * [[Dedup.loadNearDupIndex]].
  *
  * `merges` is the shingling GRAIN, read from storage: None shingles
  * word n-grams, Some(table) BPE-piece n-grams under the index's stored
  * merge table. Every path that shingles a document against the index
  * (append, drop, ingest, cross-pairing) takes the grain from the handle,
  * so a delta can never pair against the index at the wrong grain.
  */
final case class NearDupIndex(name: String, n: Int, numHashes: Int,
                              numBands: Int, numBuckets: Int,
                              merges: Option[Seq[Seq[String]]] = None) {
  def shinglesTable: String = s"${name}_shingles"
  def bucketsTable: String = s"${name}_buckets"
  def metaTable: String = s"${name}_meta"
  def tombstonesTable: String = s"${name}_tombstones"
}

/** Handle to a persisted EXACT-dedup fingerprint index — one catalog
  * table `<name>_fps` of distinct content fingerprints, bucketed on the
  * fingerprint so the delta anti-join reads co-bucketed corpus files with
  * no corpus-side exchange. Write with [[Dedup.writeFingerprintIndex]].
  */
final case class FingerprintIndex(name: String, numBuckets: Int) {
  def fpsTable: String = s"${name}_fps"
  def tombstonesTable: String = s"${name}_fps_tombstones"
}

object Dedup {

  /** Exact dedup, deterministic keep-first: one row per distinct value of
    * `keys`, keeping the first row by `order`.
    *
    * Implemented as `min_by(struct(row), struct(order))` — an aggregation
    * with MAP-SIDE partial combine — not a row_number window: this
    * operator's contract is to absorb unbounded-copy-count duplicate
    * groups (see [[jaccardPairs]]), and a window would pile every row of
    * a 500M-copy hot key onto one task to sort, while the aggregate
    * reduces each partition to one candidate row per key locally. Orders
    * with explicit sort direction (`col.desc`) can't nest in a struct, so
    * they fall back to the window form.
    */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val plainAsc = order.forall(c =>
      !org.apache.spark.sql.GraftSqlBridge.isSortOrder(c))
    if (plainAsc) {
      val rowS = struct(df.columns.map(col): _*)
      val ordS = struct(order: _*)
      df.groupBy(keys.map(col): _*).agg(min_by(rowS, ordS).as("_kf_row"))
        .select(df.columns.map(c => col("_kf_row").getField(c).as(c)): _*)
    } else {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }
  }

  /** Exact dedup at the NORMALIZED-text grain: collapse documents whose
    * [[TextFunctions.normalizeForDedup]] canonical forms are identical,
    * keeping the smallest `idCol` of each group, with the group's copy
    * count attached as `n_copies`. The canonicalization catches the
    * re-rendered exact duplicates (casing, punctuation, numeric ids,
    * spacing) that raw-byte dedup misses while staying one hash-groupBy —
    * run it BEFORE MinHash so the near-dup stages never pay for trivially
    * collapsible copies.
    *
    * Same scale shape as [[exactKeepFirst]]: one shuffle on the md5 of
    * the canonical form, `min_by` + `count` with MAP-SIDE partial
    * combine, so a 500M-copy hot group reduces to one candidate per
    * partition instead of piling onto one sort task.
    */
  def dedupExactNormalized(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val withFp = docs.withColumn("_norm_fp",
      md5(TextFunctions.normalizeForDedup(col(textCol))))
    val rowS = struct(docs.columns.map(col): _*)
    withFp.groupBy("_norm_fp")
      .agg(min_by(rowS, col(idCol)).as("_kf_row"),
        count(lit(1)).as("n_copies"))
      .select(docs.columns.map(c =>
        col("_kf_row").getField(c).as(c)) :+ col("n_copies"): _*)
  }

  /** `(doc_id, shingle, …)` with the shingle string replaced by its
    * xxhash64 (name and position kept) — the pairing/verification tails
    * only ever test shingle EQUALITY, so the long is a drop-in join key
    * that keeps n-gram strings out of every exchange (guide §2.3).
    * Columns other than `shingle` pass through unchanged.
    */
  private def hashShingleCol(sh: DataFrame): DataFrame =
    sh.select(sh.columns.map(c =>
      if (c == "shingle") xxhash64(col(c)).as(c) else col(c)): _*)

  /** Long-format distinct (id, shingle) pairs for a document table. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.shingles(col(textCol), n)).as("shingle"))

  /** (doc_id, shingle, n_sh) — shingle table with the doc's FULL shingle
    * count attached via a window, so both sides of the inverted-index
    * self-join are the *same* plan and Spark computes the underlying
    * exchange once (ReusedExchange) instead of rebuilding the shingle
    * table per use.
    */
  private def sizedShingles(docs: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    shingleTable(docs, idCol, textCol, n)
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy("doc_id")))

  private def pairsFromSizedShingles(sh: DataFrame, threshold: Double): DataFrame = {
    val a = sh.select(col("doc_id").as("a_id"), col("shingle"), col("n_sh").as("n_a"))
    val b = sh.select(col("doc_id").as("b_id"), col("shingle"), col("n_sh").as("n_b"))
    // Size-ratio prune: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs whose
    // shingle counts differ by more than the threshold ratio can never
    // qualify — dropped inside the join, before the pair aggregation.
    // shuffle_hash hint: broadcasting one side would rebuild the shingle
    // subtree twice; with both sides shuffled on the shingle the exchanges
    // canonicalize identically and Spark computes the table once
    // (ReusedExchange) — also the only viable plan at corpus scale.
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"),
        a("shingle") === b("shingle") && col("a_id") < col("b_id") &&
        col("n_a") >= lit(threshold) * col("n_b") &&
        col("n_b") >= lit(threshold) * col("n_a"))
      .groupBy("a_id", "b_id", "n_a", "n_b").agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact n-gram Jaccard near-duplicate pairs at/above `threshold`.
    *
    * Candidates come from an equi-join on shingle (docs sharing zero
    * shingles can never reach any positive threshold), so the shuffle key
    * is the shingle, not the document — the classic inverted-index join.
    *
    * `maxShingleFreq` bounds skew for the 100 TB case: a stop-shingle
    * ("of the and") otherwise lands millions of docs on one join key and
    * the within-key pair blowup is quadratic before any prune applies.
    * With a cap of f, candidate generation only joins on shingles present
    * in <= f docs (worst-case f² pairs per key), while the Jaccard itself
    * is still computed EXACTLY: per-doc sizes come from the full shingle
    * table, and the hot-shingle intersections the rare join can't see are
    * added back by a per-candidate correction join (doc-id keys, bounded
    * fan-out) — so a reported pair's score never changes with the cap.
    * The semantic delta is recall on pairs whose *every* shared shingle
    * exceeds the cap. Two ways that happens: (1) the pair's similarity is
    * pure boilerplate n-grams — not a near-duplicate worth keeping; (2) a
    * document duplicated in MORE than f copies, whose every shingle is
    * hot by virtue of the duplication itself. Case (2) is real and is the
    * contract: run [[exactKeepFirst]] (one shuffle, no pair
    * materialization, unbounded copy counts) BEFORE near-dup pairing —
    * a 1M-copy cluster has ~5·10¹¹ true pairs, so any operator that
    * reported them all would be the blowup this cap exists to prevent.
    * The cap-vs-uncapped equality spec pins the no-hot-keys case on real
    * data; the hot-key spec pins exactness when the cap binds.
    *
    * Declared approximation — 64-bit shingle keys: shingles are compared
    * by their xxhash64, not their text, before the first exchange. Two
    * distinct shingles that collide count as one shared shingle, which
    * can only RAISE a pair's Jaccard. By the birthday bound the chance of
    * any collision among `s` distinct shingles is about `s² / 2⁶⁵`: ~3·10⁻⁸
    * at a million distinct shingles, ~3·10⁻² at a billion. One collision
    * moves one intersection count by one, so a score changes only for a
    * pair sitting within one shared shingle of `threshold`. This is the
    * same 64-bit identity the MinHash/LSH paths already rest on.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, n: Int = 3,
                   maxShingleFreq: Option[Int] = None): DataFrame =
    jaccardFromSized(sizedShingles(docs, idCol, textCol, n), threshold,
      maxShingleFreq)

  /** [[jaccardPairs]]' scoring tail over any `(doc_id, shingle, n_sh)`
    * table — shared by the word-grain and the token-grain
    * ([[jaccardPairsTokens]]) shingle builders.
    */
  private def jaccardFromSized(sizedRaw: DataFrame, threshold: Double,
                               maxShingleFreq: Option[Int]): DataFrame = {
    // Shuffle keys, not payloads (guide §2.3): every join/aggregation
    // below keys on shingle EQUALITY only, so the variable-length
    // shingle string (a word/piece n-gram, tens of bytes) is collapsed
    // to its xxhash64 BEFORE the first exchange — the same 64-bit
    // identity the MinHash/banding paths already stand on. n_sh is
    // computed upstream over the string shingles and is untouched.
    val sized = hashShingleCol(sizedRaw)
    maxShingleFreq match {
      case None => pairsFromSizedShingles(sized, threshold)
      case Some(f) =>
        // ONE shared scan: annotate every (doc_id, shingle, n_sh) row with
        // the shingle's corpus document frequency. The frequency comes
        // from groupBy (partial aggregation — skew-safe: a stop-shingle's
        // millions of occurrences combine map-side, where a window over
        // the shingle would pile them onto one task) over the SAME
        // windowed subtree the join sides use, so the expensive
        // scan+shingle+window exchange is computed once and reused
        // (ReusedExchange) by the frequency agg, both self-join sides,
        // and the hot-set correction. Everything below is a filter on
        // this one table: no separate eager probe job, no driver
        // collect, no broadcast — and no driver-side bound on how many
        // shingles may be hot.
        val freq = sized.groupBy("shingle").agg(count(lit(1)).as("_df"))
        val annotated = sized.join(freq, "shingle")
        // Rare rows drive candidate generation; n_sh stays the FULL
        // per-doc count so jaccard denominators are exact under the cap.
        val rare = annotated.filter(col("_df") <= f)
        val a = rare.select(col("doc_id").as("a_id"), col("shingle").as("sh_a"),
          col("n_sh").as("n_a"))
        val b = rare.select(col("doc_id").as("b_id"), col("shingle").as("sh_b"),
          col("n_sh").as("n_b"))
        // Single-pass rare-shingle join with the same size-ratio prune
        // as the uncapped path (n_a/n_b are full sizes, so J <= min/max
        // still bounds).
        val candCounts = a.hint("shuffle_hash").join(b.hint("shuffle_hash"),
            col("sh_a") === col("sh_b") && col("a_id") < col("b_id") &&
            col("n_a") >= lit(threshold) * col("n_b") &&
            col("n_b") >= lit(threshold) * col("n_a"))
          .groupBy("a_id", "b_id", "n_a", "n_b")
          .agg(count(lit(1)).as("n_rare"))
        // Exact correction for intersections the rare join can't see:
        // each doc's (small — a doc holds few stop-shingles) set of hot
        // shingles is aggregated ONCE into an array, joined to the
        // candidates on doc-id keys, and the shared-hot count is an
        // array_intersect — never the quadratic hot-key self-join the
        // cap exists to avoid. Keying the correction off per-doc arrays
        // (instead of a second join against candCounts) means candCounts
        // appears in the plan exactly once, so no persist/checkpoint is
        // needed and nothing is left in the block-manager cache after
        // the call.
        val hotSets = annotated.filter(col("_df") > f)
          .groupBy("doc_id").agg(collect_set(col("shingle")).as("hot_sh"))
        candCounts
          .join(hotSets.select(col("doc_id").as("a_id"), col("hot_sh").as("hot_a")),
            Seq("a_id"), "left")
          .join(hotSets.select(col("doc_id").as("b_id"), col("hot_sh").as("hot_b")),
            Seq("b_id"), "left")
          .withColumn("n_hot",
            when(col("hot_a").isNull || col("hot_b").isNull, lit(0L))
              .otherwise(size(array_intersect(col("hot_a"), col("hot_b"))).cast("long")))
          .withColumn("n_inter", col("n_rare") + col("n_hot"))
          .withColumn("jaccard",
            col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .filter(col("jaccard") >= threshold)
          .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
    }
  }

  /** MinHash signature columns: the shingle string is hashed ONCE to a
    * long, and the `numHashes` per-function values re-hash that fixed-
    * width long with the function index as seed — variable-length string
    * hashing happens once per row instead of `numHashes` times (wrapping
    * `h1 + i·h2` double-hashing would be cheaper still, but ANSI mode
    * faults on the deliberate overflow). Pure aggregation — one shuffle
    * on doc_id.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val withBase = sh.withColumn("_h1", xxhash64(col("shingle")))
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("_h1"))).as(s"mh_$i"))
    withBase.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, band, bandhash) LSH bucket rows for a (doc_id, shingle[, …])
    * table: MinHash signatures (one shuffle on doc_id), then each band's
    * hash slice folded to a single xxhash64 and exploded to `numBands`
    * rows per doc. The single definition shared by the in-memory pairing
    * paths and the persisted index, so stored buckets are bit-identical
    * to recomputed ones.
    */
  private def bandBuckets(sh: DataFrame, numHashes: Int,
                          numBands: Int): DataFrame = {
    val rowsPerBand = numHashes / numBands
    val sig = minhashSignatures(sh.select("doc_id", "shingle"), numHashes)
    val bandStructs = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bandhash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bandhash").as("bandhash"))
  }

  /** MinHash + LSH banding near-dup pairs, verified with exact Jaccard.
    *
    * Scale path: signatures (one shuffle), band buckets (explode to
    * numBands rows/doc, shuffle on band hash), self-join per bucket for
    * candidates, then exact-Jaccard verification restricted to candidates.
    * With 64 hashes / 16 bands, detection probability at jaccard 0.8 is
    * 1-(1-0.8^4)^16 ≈ 0.9998 — and verification removes all false
    * positives, so output ⊆ exact jaccardPairs output.
    *
    * `maxBandFreq`: optional skew guard — an LSH bucket (band, bandhash)
    * shared by > f docs is pruned from candidate generation, bounding the
    * within-bucket self-join at f² candidates per key (the
    * [[simhashPairsFrom]] cap, same recall contract: only pairs whose
    * EVERY shared bucket is hot are missed — run [[exactKeepFirst]]
    * first so that shape cannot occur).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double, n: Int = 3,
                      numHashes: Int = 64, numBands: Int = 16,
                      maxBandFreq: Option[Int] = None): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val sh = sizedShingles(docs, idCol, textCol, n)
    selfPairs(bandBuckets(sh, numHashes, numBands), sh, threshold, maxBandFreq)
  }

  /** TOKENIZER-GRAIN shingle table: distinct n-grams of BPE PIECES
    * (q100's [[graft.ops.Bpe.encode]]) instead of word n-grams — dedup
    * at the grain the model actually trains on. Two documents whose
    * surface forms differ only in ways the tokenizer collapses (extra
    * whitespace, case under the lowercasing tokenizer) are IDENTICAL
    * here, and a shared passage contributes the same piece n-grams
    * regardless of surrounding formatting — the standard move for
    * train-set dedup against tokenized shards (cf. Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", which
    * dedups on token n-grams). Documents shorter than `n` pieces emit
    * no shingles ([[graft.functions.TextFunctions.shinglesRaw]]'s
    * convention).
    *
    * Scale shape: [[graft.ops.Bpe.encode]]'s distinct-word merge scan +
    * one row-local explode — the same inverted-index contracts as the
    * word-grain path apply downstream unchanged.
    */
  def tokenShingleTable(docs: DataFrame, idCol: String, textCol: String,
                        merges: Array[Array[String]],
                        n: Int = 5): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    Bpe.encode(docs, idCol, textCol, merges)
      .select(col("doc_id"), split(col("pieces_csv"), ",").as("_p"))
      .select(col("doc_id"), explode(array_distinct(
        when(size(col("_p")) >= n,
          transform(sequence(lit(0), size(col("_p")) - n),
            i => concat_ws(" ", slice(col("_p"), i + 1, lit(n)))))
          .otherwise(array().cast("array<string>")))).as("shingle"))
  }

  /** Unlike the word-grain [[sizedShingles]], the per-doc size comes
    * row-locally from the pre-explode distinct array (the encode path
    * already holds one row per doc) — no count window, one less pass.
    *
    * The encode result is CACHED at doc grain when the merge table is
    * large (`persist`, lineage kept — a lost block recomputes, unlike a
    * localCheckpoint): the pairing tails reference this table in four
    * legs, and the broadcast-fed native `bpe_apply` expression defeats
    * exchange-reuse canonicalization, so without a cache the encode
    * PLANS AND RUNS FOUR TIMES (q201's plan held 8 bpe_apply sites over
    * 12 document scans). Whether that matters is a function of the
    * MERGE COUNT: bpe_apply's per-word cost scales with the merge
    * rounds, so a production tokenizer (thousands of merges) dominates
    * the pairing and must encode once, while a small merge table
    * re-encodes cheaper than the cache's write+read (A/B at sf0.1,
    * 20 merges: 13.6 s uncached vs 15.2 s cached). The gate is
    * [[CacheEncodeMinMerges]] — a property of the tokenizer, not the
    * corpus, so it behaves identically at any scale factor. No explicit
    * unpersist when caching: the callers return LAZY frames, so there
    * is no in-function action boundary to release behind —
    * MEMORY_AND_DISK leaves eviction to the block manager.
    */
  private def sizedTokenShingles(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 merges: Array[Array[String]],
                                 n: Int): DataFrame = {
    val arr = array_distinct(
      when(size(col("_p")) >= n,
        transform(sequence(lit(0), size(col("_p")) - n),
          i => concat_ws(" ", slice(col("_p"), i + 1, lit(n)))))
        .otherwise(array().cast("array<string>")))
    val raw = Bpe.encode(docs, idCol, textCol, merges)
      .select(col("doc_id"), split(col("pieces_csv"), ",").as("_p"))
    val encoded =
      if (merges.length >= CacheEncodeMinMerges)
        raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else raw
    encoded
      .select(col("doc_id"), arr.as("_sh"))
      .select(col("doc_id"), explode(col("_sh")).as("shingle"),
        size(col("_sh")).cast("long").as("n_sh"))
  }

  /** Merge count from which [[sizedTokenShingles]] caches its encode. */
  private val CacheEncodeMinMerges = 256

  /** The sized shingle table of `docs` at `index`'s grain and width —
    * word n-grams, or BPE-piece n-grams under the index's stored merges.
    */
  private def shingles(index: NearDupIndex, docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = index.merges match {
    case None => sizedShingles(docs, idCol, textCol, index.n)
    case Some(m) => sizedTokenShingles(docs, idCol, textCol,
      m.map(_.toArray).toArray, index.n)
  }

  /** Exact token-n-gram Jaccard pairs — [[jaccardPairs]] at BPE-piece
    * grain ([[tokenShingleTable]]); same inverted-index join, same
    * size-ratio prune, same exact-under-cap frequency guard, and the
    * same declared approximation: piece n-grams are compared by their
    * xxhash64, so two colliding shingles count as shared (birthday bound
    * `s² / 2⁶⁵` over `s` distinct shingles — see [[jaccardPairs]]).
    */
  def jaccardPairsTokens(docs: DataFrame, idCol: String, textCol: String,
                         merges: Array[Array[String]], threshold: Double,
                         n: Int = 5,
                         maxShingleFreq: Option[Int] = None): DataFrame =
    jaccardFromSized(sizedTokenShingles(docs, idCol, textCol, merges, n),
      threshold, maxShingleFreq)

  /** MinHash-LSH candidate pairs at BPE-piece grain — the scale path
    * for [[jaccardPairsTokens]] (spec-held to it above threshold, the
    * q27-vs-q26 discipline); banding, skew caps, and verification reuse
    * the word-grain machinery verbatim.
    */
  def minhashLshPairsTokens(docs: DataFrame, idCol: String, textCol: String,
                            merges: Array[Array[String]], threshold: Double,
                            n: Int = 5, numHashes: Int = 64,
                            numBands: Int = 16,
                            maxBandFreq: Option[Int] = None): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val sh = sizedTokenShingles(docs, idCol, textCol, merges, n)
    selfPairs(bandBuckets(sh, numHashes, numBands), sh, threshold, maxBandFreq)
  }

  /** Within-one-corpus bucket self-join + verify over precomputed bucket
    * and shingle tables — shared by [[minhashLshPairs]] and the staged
    * delta-ingest path, which caches these tables across stages.
    */
  private def selfPairs(allBuckets: DataFrame, sh: DataFrame,
                        threshold: Double,
                        maxBandFreq: Option[Int]): DataFrame = {
    val buckets = maxBandFreq match {
      case None => allBuckets
      case Some(f) =>
        val freq = allBuckets.groupBy("band", "bandhash")
          .agg(count(lit(1)).as("_bf"))
        allBuckets.join(freq.filter(col("_bf") <= f),
          Seq("band", "bandhash"), "left_semi")
    }
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bandhash") === col("y.bandhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    verifyJaccard(cand, sh, threshold)
  }

  /** MinHash+LSH near-dup pairs ACROSS two corpora — the incremental-
    * ingest primitive: a delta batch (today's crawl) is paired against the
    * existing corpus without ever re-pairing corpus×corpus. Returns
    * `(a_id, b_id, jaccard)` with `a_id` from `corpus`, `b_id` from
    * `delta`, exact-Jaccard-verified at `threshold`.
    *
    * Ids must be unique ACROSS both inputs (they identify rows in the
    * shared shingle space). The band-frequency cap, when set, counts
    * bucket occupancy over the UNION of both sides — a hot template is
    * hot no matter which side its copies sit on.
    *
    * 100 TB shape: both sides shuffle once on (band, bandhash) — the
    * corpus side's signatures can be precomputed and stored by the
    * ingest pipeline; candidates are corpus×delta within a bucket only,
    * and verification touches only candidate pairs' shingles.
    */
  def minhashLshPairsAcross(corpus: DataFrame, delta: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double, n: Int = 3,
                            numHashes: Int = 64, numBands: Int = 16,
                            maxBandFreq: Option[Int] = None): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val cSh = sizedShingles(corpus, idCol, textCol, n)
    val dSh = sizedShingles(delta, idCol, textCol, n)
    crossPairs(bandBuckets(cSh, numHashes, numBands),
      bandBuckets(dSh, numHashes, numBands), cSh, dSh, threshold, maxBandFreq)
  }

  /** Bucket-join + verify shared by the recompute and persisted-index
    * cross-pairing paths: candidates are corpus×delta within a (band,
    * bandhash) bucket only; the band-frequency cap counts occupancy over
    * the UNION of both sides; verification touches candidate pairs only.
    */
  private def crossPairs(cBuckets: DataFrame, dBuckets: DataFrame,
                         cSh: DataFrame, dSh: DataFrame, threshold: Double,
                         maxBandFreq: Option[Int]): DataFrame = {
    val (cB, dB) = maxBandFreq match {
      case None => (cBuckets, dBuckets)
      case Some(f) =>
        val ok = cBuckets.unionByName(dBuckets)
          .groupBy("band", "bandhash").agg(count(lit(1)).as("_bf"))
          .filter(col("_bf") <= f)
        (cBuckets.join(ok, Seq("band", "bandhash"), "left_semi"),
          dBuckets.join(ok, Seq("band", "bandhash"), "left_semi"))
    }
    val cand = cB.as("x").join(dB.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bandhash") === col("y.bandhash"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    // a_ids come from the corpus side only and b_ids from the delta side
    // only, so each verification join reads its own side's shingle table —
    // in the index path the corpus side stays the bucketed stored scan
    // instead of disappearing into a union with the delta. Shingle
    // strings collapse to xxhash64 before the verification exchanges
    // ([[hashShingleCol]] — equality-only use, guide §2.3).
    val aSh = hashShingleCol(cSh).select(col("doc_id").as("a_id"),
      col("shingle"), col("n_sh").as("n_a"))
    val bSh = hashShingleCol(dSh).select(col("doc_id").as("b_id"),
      col("shingle"), col("n_sh").as("n_b"))
    cand.join(aSh, "a_id").join(bSh, Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id", "n_a", "n_b").agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Incremental near-duplicate REMOVAL for a delta batch: first collapse
    * near-dups WITHIN the delta ([[dropNearDuplicates]] — CC clusters,
    * keep-min-id), then drop every survivor that is a near-duplicate of
    * ANY existing corpus document ([[minhashLshPairsAcross]]). Returns the
    * delta rows that should be appended to the corpus. The corpus itself
    * is never re-paired — cost scales with |delta| · bucket overlap, not
    * |corpus|². The collapse, cross-pairing and drop are the persisted-
    * index variant's ([[dropAgainstCore]]), fed corpus-derived bucket and
    * shingle tables instead of the stored ones.
    */
  def dropNearDuplicatesAgainst(corpus: DataFrame, delta: DataFrame,
                                idCol: String, textCol: String,
                                threshold: Double, n: Int,
                                maxBandFreq: Option[Int]): DataFrame = {
    val cSh = sizedShingles(corpus, idCol, textCol, n)
    dropAgainstCore(delta, idCol, threshold, maxBandFreq,
      excludeSelfIds = false, sizedShingles(delta, idCol, textCol, n),
      numHashes = 64, numBands = 16, bandBuckets(cSh, 64, 16), cSh,
      wantPairs = false, append = None)._1
  }

  /** Materialize the EXACT-dedup fingerprint index for `corpus`: the
    * distinct [[TextFunctions.fingerprint]] set, bucketed on the
    * fingerprint. The exact-dup complement of [[writeNearDupIndex]] for
    * incremental ingest — per the pairing recall contract, exact dedup
    * runs BEFORE near-dup pairing, and with both indexes persisted a
    * delta batch touches the corpus text zero times.
    */
  def writeFingerprintIndex(corpus: DataFrame, textCol: String,
                            name: String, numBuckets: Int = 32): FingerprintIndex = {
    val idx = FingerprintIndex(name, numBuckets)
    graft.core.io.Writer.writeBucketed(
      corpus.select(TextFunctions.fingerprint(col(textCol)).as("fp")).distinct(),
      idx.fpsTable, Seq("fp"), numBuckets)
    idx
  }

  /** Re-open a [[writeFingerprintIndex]] handle in another session: the
    * bucket count is read back from the CATALOG (not trusted from the
    * caller) — an append with a mismatched bucket spec would otherwise
    * corrupt the co-bucketing contract the exchange-free anti-join
    * relies on.
    */
  def loadFingerprintIndex(spark: org.apache.spark.sql.SparkSession,
                           name: String): FingerprintIndex = {
    val store = fpStore(spark, name).open()
    require(spark.catalog.tableExists(s"${name}_fps"),
      s"no fingerprint index at ${name}_fps")
    FingerprintIndex(name, store.bucketCounts.head)
  }

  /** The fingerprint family's [[IndexStore]]: key `fp`, one bucketed
    * table, tombstones in `<name>_fps_tombstones`.
    */
  private[graft] def fpStore(spark: org.apache.spark.sql.SparkSession,
                             name: String): IndexStore =
    IndexStore(spark, "fp", s"${name}_fps_tombstones", Seq(s"${name}_fps"))

  /** Incremental EXACT dedup against a persisted fingerprint index:
    * collapse exact duplicates WITHIN the delta (deterministic keep-first
    * by `order`, [[exactKeepFirst]] on the fingerprint), drop every
    * survivor whose fingerprint already exists in the corpus index
    * (anti-join on the bucketed fingerprint table — the corpus side
    * plans with no exchange), and optionally append the accepted rows'
    * fingerprints so the NEXT delta sees them. Eager materialization
    * before the append, as in [[appendToNearDupIndex]].
    */
  def dropExactDuplicatesAgainst(index: FingerprintIndex, delta: DataFrame,
                                 idCol: String, textCol: String,
                                 appendAccepted: Boolean = false): DataFrame = {
    val store = fpStore(delta.sparkSession, index.name).open()
    val withFp = delta.withColumn("_fp",
      TextFunctions.fingerprint(col(textCol)))
    val deltaClean = exactKeepFirst(withFp, Seq("_fp"), Seq(col(idCol)))
    // visible index = stored fps minus the tombstoned (vacuumed) set
    val accepted = deltaClean.join(
      store.visible(index.fpsTable).select(col("fp").as("_fp")), Seq("_fp"),
      "left_anti")
    if (!appendAccepted) accepted.drop("_fp")
    else {
      // checkpoint WITH the computed fingerprint so the append reuses it
      // instead of re-normalizing + re-hashing the accepted text.
      // Reliable checkpoint when a dir is configured (executor loss on a
      // cluster would drop localCheckpoint blocks mid-ingest); callers
      // reclaim it with Checkpoints.pathOf/delete once consumed.
      val materialized = graft.core.Checkpoints.truncate(accepted)
      val fps = materialized.select(col("_fp").as("fp")).distinct()
      // no append probe: the accepted fps were anti-joined against the
      // visible index above, and a tombstoned fp re-appends by design
      store.append(index.fpsTable, fps, assumeFresh = true)
      // re-accepting previously-forgotten CONTENT clears its tombstone
      // (unlike the near-dup index, identical content re-ingest is the
      // normal exact-dedup flow — the un-hidden old fp row and the
      // appended one are the same value, so visibility stays correct);
      // a staged swap, so a crash cannot resurrect forgotten fps
      store.untombstone(fps)
      materialized.drop("_fp")
    }
  }

  /** Forget documents' CONTENT from the persisted exact-dedup index —
    * [[vacuumNearDupIndex]]'s fingerprint twin, same tombstone protocol:
    * the forgotten docs' fingerprints append to a small
    * `<name>_fps_tombstones` table (write cost ~deleted docs; zero
    * index-file rewrites — spec-asserted byte-identical) and every
    * index read anti-joins it, so an identical future submission is
    * ACCEPTED again immediately. The physical scrub batches into
    * [[compactFingerprintIndex]]. Re-ingesting identical content later
    * simply clears its tombstone in the append path — no compact
    * required first (fingerprints carry no doc identity, so the hidden
    * old row and the re-accepted one are interchangeable).
    *
    * Returns the number of VISIBLE indexed fingerprints tombstoned.
    */
  def vacuumFingerprintIndex(spark: org.apache.spark.sql.SparkSession,
                             name: String, docs: DataFrame,
                             textCol: String): Long = {
    val idx = loadFingerprintIndex(spark, name)
    fpStore(spark, name).vacuum(
      docs.select(TextFunctions.fingerprint(col(textCol)).as("fp")),
      spark.table(idx.fpsTable))
  }

  /** Physically scrub tombstoned fingerprints — [[compactNearDupIndex]]'s
    * twin: staged rewrite of the bucketed fps table, catalog
    * swap, tombstones dropped last. Returns the fingerprints scrubbed.
    */
  def compactFingerprintIndex(spark: org.apache.spark.sql.SparkSession,
                              name: String): Long = {
    loadFingerprintIndex(spark, name)
    fpStore(spark, name).compact()
  }

  /** Materialize the near-dup index for `corpus`: the sized-shingle table
    * (bucketed on doc_id) and the (doc_id, band, bandhash) LSH bucket
    * table (bucketed on its join key), plus a one-row parameter table.
    * This is the persisted form of exactly what [[minhashLshPairsAcross]]
    * recomputes from raw text on every call — with the index, a delta
    * ingest never re-shingles or re-hashes the corpus: the pairing join
    * reads co-bucketed corpus files with NO exchange, and verification
    * reads stored (doc_id, shingle, n_sh) rows for the candidate ids
    * only. At 100 TB that converts the linear-in-corpus per-ingest
    * shingle+MinHash cost into a one-time write.
    *
    * Catalog-backed ([[graft.core.io.Writer.writeBucketed]] — Spark
    * bucketing metadata requires `saveAsTable`); `name` prefixes the
    * three tables. Buckets are derived FROM the stored shingle table, so
    * the two tables can never drift and the signature aggregation itself
    * runs exchange-free on the bucketed-by-doc_id layout.
    *
    * `merges` (a [[Bpe.learn]] table) makes it a BPE-PIECE index — q201's
    * steady-state escape: dedup at the grain the model trains on, with
    * the corpus encoded once at build time and each later delta encoded
    * alone. The merge table is written FIRST, as `<name>_merges`, and the
    * corpus is encoded under what was stored (write/read drift would
    * split the piece space between build and ingest); it is part of the
    * index, so [[loadNearDupIndex]] restores the grain from it. It is a
    * corpus-level frequency statistic, not per-document content — a
    * forget does not touch it. Without `merges` any stale `<name>_merges`
    * of an earlier build is dropped.
    */
  def writeNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                        name: String, n: Int = 3, numHashes: Int = 64,
                        numBands: Int = 16, numBuckets: Int = 32,
                        merges: Option[DataFrame] = None): NearDupIndex = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val spark = corpus.sparkSession
    val mergesTable = s"${name}_merges"
    merges match {
      case Some(m) => graft.core.io.Writer.writeTable(
        m.select("rank", "lhs", "rhs"), mergesTable)
      case None => spark.sql(s"DROP TABLE IF EXISTS $mergesTable")
    }
    val idx = NearDupIndex(name, n, numHashes, numBands, numBuckets,
      storedMerges(spark, name))
    graft.core.io.Writer.writeBucketed(shingles(idx, corpus, idCol, textCol),
      idx.shinglesTable, Seq("doc_id"), numBuckets)
    graft.core.io.Writer.writeBucketed(
      bandBuckets(spark.table(idx.shinglesTable), numHashes, numBands),
      idx.bucketsTable, Seq("band", "bandhash"), numBuckets)
    import spark.implicits._
    graft.core.io.Writer.writeTable(
      Seq((n, numHashes, numBands, numBuckets))
        .toDF("n", "num_hashes", "num_bands", "num_buckets"),
      idx.metaTable)
    idx
  }

  /** Load an index handle written by [[writeNearDupIndex]] — parameters
    * come from the stored meta table, so callers cannot pair a delta with
    * mismatched shingle width or band layout. The bucket count is
    * additionally cross-checked against the CATALOG's actual bucket spec
    * (same probe as [[loadFingerprintIndex]]): if meta and the physical
    * tables ever drifted, an append at the meta count would silently
    * corrupt the co-bucketing contract behind the exchange-free pairing
    * join — fail loudly instead.
    *
    * The grain comes from storage too: the handle carries the stored
    * merge table when `<name>_merges` exists (a catalog lookup — a
    * word-grain load runs no extra Spark job), so every entry point
    * shingles a delta at the grain the index was built at.
    */
  def loadNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                       name: String): NearDupIndex = {
    val store = nearDupStore(spark, name).open()
    val m = spark.table(s"${name}_meta").head()
    val idx = NearDupIndex(name, m.getAs[Int]("n"), m.getAs[Int]("num_hashes"),
      m.getAs[Int]("num_bands"), m.getAs[Int]("num_buckets"),
      storedMerges(spark, name))
    store.requireBuckets(idx.numBuckets, idx.metaTable)
    idx
  }

  /** The merge table stored with index `name`; None for a word-grain index. */
  private def storedMerges(spark: org.apache.spark.sql.SparkSession,
                           name: String): Option[Seq[Seq[String]]] = {
    val t = s"${name}_merges"
    Option.when(spark.catalog.tableExists(t))(
      Bpe.mergesOf(spark.table(t)).map(_.toSeq).toSeq)
  }

  /** The near-dup family's [[IndexStore]] (word and token grain share
    * it): key `doc_id`, the shingle and bucket tables, tombstones in
    * `<name>_tombstones`. Every pairing/verification read goes through
    * its visible rows — and the broadcast tombstone anti-join keeps the
    * zero-exchange co-bucketed pairing contract (spec-asserted in
    * NearDupIndexSpec).
    */
  private[graft] def nearDupStore(spark: org.apache.spark.sql.SparkSession,
                                  name: String): IndexStore =
    IndexStore(spark, "doc_id", s"${name}_tombstones",
      Seq(s"${name}_shingles", s"${name}_buckets"),
      aux = Seq(s"${name}_meta", s"${name}_merges"))

  /** Forget documents FROM the persisted index — the [[graft.core.io
    * .Maintenance.deleteMatching]] counterpart for the near-dup tables:
    * a GDPR delete that scrubs the corpus but leaves the index holding
    * the forgotten docs' shingles would keep REJECTING future
    * near-duplicates of deleted content (and keep the content's
    * signature derivable).
    *
    * TOMBSTONE protocol ([[IndexStore]] — the Delta-Lake deletion-vector
    * discipline, adapted to catalog grain): the forget ids APPEND to a
    * small `<name>_tombstones` table and every index read anti-joins it
    * (broadcast — no exchange added), so the vacuum WRITE cost is
    * ~deleted-ids, never an index rewrite. Bucketed tables cannot be
    * file-pruned like plain parquet (bucket-file naming IS the
    * zero-exchange contract), so eager physical deletion would force a
    * wholesale rewrite per forget — at 100 TB that made every GDPR
    * request an index rebuild. Instead the physical scrub batches into
    * [[compactNearDupIndex]], run inside the compliance window; until
    * then forgotten docs are logically invisible (their near-dups are
    * ACCEPTED again — spec-pinned) while their bytes await compaction.
    * The membership count reads one doc_id column of the shingle table
    * (columnar scan, no rewrite).
    *
    * Returns the number of VISIBLE indexed docs removed (already-
    * tombstoned and never-indexed ids do not count).
    */
  def vacuumNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                         name: String, ids: DataFrame): Long = {
    val idx = loadNearDupIndex(spark, name)
    nearDupStore(spark, name).vacuum(ids,
      spark.table(idx.shinglesTable).select("doc_id"))
  }

  /** Physically scrub tombstoned docs from the index tables — the
    * batched second half of [[vacuumNearDupIndex]]'s tombstone protocol,
    * run on a maintenance cadence (and within the GDPR compliance
    * window: only after compaction are the forgotten docs' shingles —
    * and thus their signatures — gone from disk). Each table is
    * rewritten through a staged catalog swap (crash healing on the next
    * open rolls a half-finished swap forward or back), and the tombstone
    * table is dropped last — a crash before that drop just re-runs a
    * no-op rewrite.
    *
    * Returns the number of docs physically scrubbed. No-op (zero
    * rewrites) when the tombstone set is empty.
    */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                          name: String): Long = {
    loadNearDupIndex(spark, name)
    nearDupStore(spark, name).compact()
  }

  /** Append `accepted` docs' shingle and bucket rows to the index — the
    * ingest step after [[dropNearDuplicatesAgainst]] decides which delta
    * rows join the corpus. The docs shingle at the handle's grain (a
    * BPE-piece index encodes them under the handle's merges, which every
    * append first checks against the stored table — see
    * [[appendShinglesCore]]). Per-doc shingle counts are independent
    * across docs, so batch-local derivation appends rows identical to a
    * full rewrite. `accepted` must already be materialized (the
    * index-path callers checkpoint it via `Checkpoints.truncate`): the
    * rows derive from an anti-join that READS the index tables, and
    * growing those tables under a live plan would re-evaluate it against
    * the appended state.
    *
    * IDEMPOTENT per table: each append first anti-joins the batch's doc
    * ids against that table's existing ids, so a crash between the two
    * appends (or a whole-batch replay) never duplicates a doc's rows —
    * duplicated shingle rows would double-count `n_inter` in every later
    * verification involving that doc. Cost: one ids-only scan of each
    * index table per ingest batch.
    */
  def appendToNearDupIndex(index: NearDupIndex, accepted: DataFrame,
                           idCol: String, textCol: String): Unit =
    appendShinglesCore(nearDupStore(accepted.sparkSession, index.name).open(),
      index, accepted, idCol,
      shingles(index, accepted.select(col(idCol), col(textCol)), idCol,
        textCol))

  /** The append body shared by [[appendToNearDupIndex]] and the ingest
    * path. `precomputedBuckets`: the ingest path passes the already-cached
    * delta bucket rows (filtered to accepted ids) so the 64-hash MinHash
    * aggregation is not recomputed; when absent the buckets derive from
    * `sh` as always.
    *
    * The handle's merges are VERIFIED against the stored `<name>_merges`
    * (for a word-grain handle: that none is stored) before any write.
    * Appending shingles encoded under a re-learned merge table would
    * silently split the piece space — old and new documents would
    * shingle into disjoint vocabularies and near-dups across the split
    * would never pair — so a stale or edited handle fails loudly; the
    * supported path to new merges is a full [[writeNearDupIndex]]
    * rebuild. The check is a catalog lookup at word grain and one
    * merge-table read at piece grain (BPE-rank-sized, never corpus-sized).
    */
  private def appendShinglesCore(store: IndexStore, index: NearDupIndex,
                                 accepted: DataFrame, idCol: String,
                                 sh: DataFrame,
                                 precomputedBuckets: Option[DataFrame] = None,
                                 assumeFresh: Boolean = false)
      : Unit = {
    def described(m: Option[Seq[Seq[String]]]) =
      m.fold("no merge table")(a => s"${a.length} merges")
    val stored = storedMerges(accepted.sparkSession, index.name)
    require(stored == index.merges,
      s"merge-table mismatch against ${index.name}_merges (stored: " +
        s"${described(stored)}, handle: ${described(index.merges)}): " +
        "appending under different merges would silently split the piece " +
        "space and miss near-dups — rebuild the index with " +
        "writeNearDupIndex to change merges")
    store.requireNotTombstoned(accepted.select(idCol), "appendToNearDupIndex",
      "compactNearDupIndex")
    // `assumeFresh`: the caller PROVES the batch's ids were never
    // appended (the streaming lanes' pre-append high-water mark — a
    // batch id above the mark never started an append, and ids are
    // unique across the stream), so the per-table ids-only anti-join
    // probes are skipped. The probe cost scales with the INDEX, not the
    // batch — on a long-lived ingest it is the one per-batch term that
    // grows without bound. Replays and unknown marks take the probing
    // path unchanged.
    store.append(index.shinglesTable, sh, assumeFresh)
    store.append(index.bucketsTable, precomputedBuckets.getOrElse(
      bandBuckets(sh, index.numHashes, index.numBands)), assumeFresh)
  }

  /** [[minhashLshPairsAcross]] against a PERSISTED corpus index: same
    * pairs bit-for-bit, but the corpus side comes from the stored bucket
    * and shingle tables — no corpus re-shingle, no corpus re-hash, and
    * the pairing join's corpus side reads co-bucketed files with zero
    * exchange (spec-asserted). The delta shingles at the index's grain.
    */
  def minhashLshPairsAcross(index: NearDupIndex, delta: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double,
                            maxBandFreq: Option[Int]): DataFrame = {
    val store = nearDupStore(delta.sparkSession, index.name).open()
    val dSh = shingles(index, delta, idCol, textCol)
    crossPairs(store.visible(index.bucketsTable),
      bandBuckets(dSh, index.numHashes, index.numBands),
      store.visible(index.shinglesTable), dSh, threshold, maxBandFreq)
  }

  /** [[dropNearDuplicatesAgainst]] against a persisted index, at the
    * index's grain, optionally appending the accepted rows' index entries
    * so the NEXT delta sees them — the complete steady-state ingest step:
    * collapse within-delta clusters, drop corpus near-dups, grow the
    * index. Returns the accepted rows (eagerly materialized when
    * appending — see [[appendToNearDupIndex]]). Through a BPE-piece index
    * this is the tokenizer-grain ingest, oracle-gated as q209 against a
    * full DuckDB replay of the BPE encode and both pairing stages.
    *
    * `excludeSelfIds = true` ignores corpus index entries whose doc id is
    * IN the delta: the replay-idempotency switch for exactly-once sinks
    * ([[graft.streaming.Streams.nearDupSink]]). A batch replayed after a
    * crash between the index append and the sink's checkpoint commit
    * would otherwise find its OWN first-run entries in the index and drop
    * every row — with self-exclusion the recomputed accepted set is
    * identical to the first run (ids must be unique across the stream,
    * the standard ingest contract). Off by default: a batch path that
    * legitimately re-ingests an id expects the drop.
    *
    * `assumeFresh = true`: the caller proves (via the streaming lanes'
    * pre-append high-water mark) that the batch's ids were never
    * appended, so the index-sized append probes are skipped — see
    * [[graft.streaming.Streams.nearDupSink]]. Replays must pass false.
    */
  def dropNearDuplicatesAgainst(index: NearDupIndex, delta: DataFrame,
                                idCol: String, textCol: String,
                                threshold: Double = 0.8,
                                maxBandFreq: Option[Int] = None,
                                appendAccepted: Boolean = false,
                                excludeSelfIds: Boolean = false,
                                assumeFresh: Boolean = false): DataFrame =
    dropAgainstIndex(index, delta, idCol, textCol, threshold, maxBandFreq,
      excludeSelfIds, appendAccepted, wantPairs = false, assumeFresh)._1

  /** [[dropNearDuplicatesAgainst]] with `appendAccepted`, that ALSO
    * returns, when `withPairs`, the batch's discovered near-dup PAIR set
    * — within-delta edges plus delta-to-indexed-corpus edges,
    * `(a_id, b_id)` distinct and safe to consume after the call (a local
    * relation when the edge set fits `spark.graft.cc.localEdgeLimit`,
    * else checkpointed). This is the edge feed for continuous cluster
    * maintenance (the streaming sink folds these into a persisted
    * (id, comp) table at batch cost): ingest computes the pairs anyway,
    * so surfacing them is free.
    */
  def ingestNearDupWithPairs(index: NearDupIndex, delta: DataFrame,
                             idCol: String, textCol: String,
                             threshold: Double, maxBandFreq: Option[Int],
                             excludeSelfIds: Boolean,
                             assumeFresh: Boolean = false,
                             withPairs: Boolean = true)
      : (DataFrame, Option[DataFrame]) =
    dropAgainstIndex(index, delta, idCol, textCol, threshold, maxBandFreq,
      excludeSelfIds, appendAccepted = true, withPairs, assumeFresh)

  /** The persisted-index variants' body: [[dropAgainstCore]] with the
    * delta shingled at the index's grain, the corpus side read from the
    * index's visible rows, and the accepted rows appended from the
    * core's cached delta tables.
    */
  private def dropAgainstIndex(index: NearDupIndex, delta: DataFrame,
                               idCol: String, textCol: String,
                               threshold: Double, maxBandFreq: Option[Int],
                               excludeSelfIds: Boolean,
                               appendAccepted: Boolean, wantPairs: Boolean,
                               assumeFresh: Boolean)
      : (DataFrame, Option[DataFrame]) = {
    val store = nearDupStore(delta.sparkSession, index.name).open()
    dropAgainstCore(delta, idCol, threshold, maxBandFreq, excludeSelfIds,
      shingles(index, delta, idCol, textCol), index.numHashes,
      index.numBands, store.visible(index.bucketsTable),
      store.visible(index.shinglesTable), wantPairs,
      append = Option.when(appendAccepted) {
        (accepted: DataFrame, sh: DataFrame, buckets: DataFrame) =>
          appendShinglesCore(store, index, accepted, idCol, sh,
            Some(buckets), assumeFresh)
      })
  }

  /** The delta-ingest body shared by the corpus-recompute and
    * persisted-index variants: collapse near-dups WITHIN the delta (CC
    * clusters, keep-min-id), drop every delta row that near-duplicates
    * a corpus document, and optionally return the pair set and grow the
    * index. `dShRaw` is the delta's sized-shingle table; `cBuckets` and
    * `cSh` are the corpus side's bucket and shingle tables. All three
    * must share one operating point (grain, width, `numHashes`/
    * `numBands`) — a different band layout would silently run a
    * different LSH S-curve. The FULL delta is cross-paired, not the
    * survivors: hits on already-dropped ids vanish in the anti-join
    * anyway, and the full-delta tables are exactly the cached ones.
    *
    * Per-call cost is ONE pass over the corpus side plus driver work
    * bounded by `spark.graft.cc.localEdgeLimit`: the within-delta and
    * delta-to-corpus edges are evaluated as one tagged union and
    * collected (at most limit + 1 rows), and the within-delta drop set,
    * the hit ids and the returned pair set all derive from that one
    * collect. Every `Checkpoints.truncate` re-executes its plan, so
    * truncating two frames that share the cross-pair plan scans the
    * corpus side twice. An edge set above the limit (or a limit of 0,
    * or non-LongType ids) takes the distributed
    * [[connectedComponents]]/truncate path instead.
    *
    * `append` grows the index from the CACHED delta tables: it receives
    * the materialized accepted rows and their shingle and bucket rows,
    * semi-joined out of the already-persisted `dSh`/`dB` instead of
    * re-derived from text (at piece grain that would be a full BPE
    * re-encode of the accepted docs — pure duplicate work, since
    * filtering a doc-grain derivation to accepted ids commutes with
    * deriving it from the accepted subset).
    */
  private def dropAgainstCore(delta: DataFrame, idCol: String,
                              threshold: Double, maxBandFreq: Option[Int],
                              excludeSelfIds: Boolean, dShRaw: DataFrame,
                              numHashes: Int, numBands: Int,
                              cBuckets: DataFrame, cSh: DataFrame,
                              wantPairs: Boolean,
                              append: Option[(DataFrame, DataFrame,
                                DataFrame) => Unit])
      : (DataFrame, Option[DataFrame]) = {
    import org.apache.spark.storage.StorageLevel
    val spark = delta.sparkSession
    // The delta shingle/bucket tables feed the within-delta collapse, the
    // cross-pairing and the append, but those run as separate jobs and
    // plan-level exchange reuse can never span them — cache the shared
    // subtrees once instead of recomputing shingling + the minhashes per
    // stage. Delta-sized, not corpus-sized: the designed-for ingest shape
    // keeps the batch small relative to the corpus.
    val dSh = dShRaw
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dB = bandBuckets(dSh, numHashes, numBands)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val within = selfPairs(dB, dSh, threshold, maxBandFreq)
      .select(col("a_id"), col("b_id"))
    val pairs = crossPairs(cBuckets, dB, cSh, dSh, threshold, maxBandFreq)
    // distinct column name + expression join: the exclusion side projects
    // from the SAME delta plan that feeds the pairs, and a USING-join on a
    // shared name can silently resolve both sides to one attribute in a
    // self-join (dropping every pair instead of the self ones)
    val cross = (
      if (!excludeSelfIds) pairs
      else pairs.join(delta.select(col(idCol).as("_self_a_id")),
        col("a_id") === col("_self_a_id"), "left_anti"))
      .select(col("a_id"), col("b_id"))
    val longTyped = (within.schema.fields ++ cross.schema.fields)
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    // the one pass over the index: within-delta edges tagged 0,
    // delta-to-index edges tagged 1
    val collected =
      if (!longTyped) None
      else collectWithinLimit(
        within.select(lit(0).as("tag"), col("a_id"), col("b_id"))
          .unionByName(cross.select(lit(1).as("tag"), col("a_id"), col("b_id"))))
    val (accepted, pairsOut) = collected match {
      case Some(rows) =>
        import spark.implicits._
        val edges = rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        val (inBatch, toIndex) = edges.partition(_._1 == 0)
        val drop = componentMins(inBatch.map(e => (e._2, e._3)))
          .collect { case (id, comp) if id != comp => id }
        val rejected = (drop ++ toIndex.map(_._3)).toSeq.distinct.toDF(idCol)
        (delta.join(rejected, Seq(idCol), "left_anti"),
          if (!wantPairs) None
          else Some(edges.map(e => (e._2, e._3)).distinct.toSeq
            .toDF("a_id", "b_id")))
      case None =>
        val drop = connectedComponents(within)
          .filter(col("id") =!= col("comp"))
          .select(col("id").as(idCol))
        // the discovered edge set (within-delta + cross-corpus),
        // materialized while the delta tables are still cached
        val pairsOut =
          if (!wantPairs) None
          else Some(graft.core.Checkpoints.truncate(
            within.unionByName(cross).distinct()))
        // materialize the tiny hit-id set so the cached delta tables
        // release before returning (the accepted plan then reads only the
        // delta scan and two checkpointed id sets)
        val hitIds = graft.core.Checkpoints.truncate(
          cross.select(col("b_id").as(idCol)).distinct())
        (delta.join(drop, Seq(idCol), "left_anti")
          .join(hitIds, Seq(idCol), "left_anti"), pairsOut)
    }
    val acceptedOut = append match {
      case None => accepted
      case Some(appendRows) =>
        // reliable when a checkpoint dir is set — see
        // dropExactDuplicatesAgainst
        val materialized = graft.core.Checkpoints.truncate(accepted)
        val ids = materialized.select(col(idCol).as("doc_id"))
        appendRows(materialized,
          dSh.join(ids, Seq("doc_id"), "left_semi")
            .select("doc_id", "shingle", "n_sh"),
          dB.join(ids, Seq("doc_id"), "left_semi")
            .select("doc_id", "band", "bandhash"))
        materialized
    }
    // unpersist AFTER the append's writes consumed the cached tables
    dSh.unpersist()
    dB.unpersist()
    (acceptedOut, pairsOut)
  }

  /** Exact Jaccard for an explicit candidate-pair set (a_id, b_id). `sh` is
    * a (doc_id, shingle[, n_sh]) table; the per-doc size is attached via a
    * window if not already present, so the shingle exchange is shared
    * between the two join sides.
    */
  def verifyJaccard(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val sizedStr =
      if (sh.columns.contains("n_sh")) sh
      else sh.withColumn("n_sh", count(lit(1)).over(Window.partitionBy("doc_id")))
    // equality-only use downstream — shingle strings collapse to their
    // xxhash64 before the verification exchanges (guide §2.3)
    val sized = hashShingleCol(sizedStr)
    val aSh = sized.select(col("doc_id").as("a_id"), col("shingle"), col("n_sh").as("n_a"))
    val bSh = sized.select(col("doc_id").as("b_id"), col("shingle"), col("n_sh").as("n_b"))
    cand.join(aSh, "a_id").join(bSh, Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id", "n_a", "n_b").agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Connected components over an undirected pair list (a_id, b_id) —
    * turns near-duplicate PAIRS into duplicate CLUSTERS (keep one doc per
    * component). Alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * each round, every node hooks its larger neighbors (large-star), then
    * its smaller ones (small-star), onto the minimum of its neighborhood.
    * The component's minimum pulls nodes in at geometrically increasing
    * distance, so a PATH of length n converges in O(log n) rounds — where
    * one-hop min-label propagation needs diameter-many rounds and a
    * chain-shaped near-dup graph (templated pages with drifting content)
    * would trip any practical `maxIter`. The fixpoint is a star per
    * component, centered on the component's minimum id.
    *
    * Each round is two (join + aggregation) steps on an edge table that
    * never exceeds the undirected input size. Lineage is truncated per
    * round so the plan does not grow with iterations — the standard Spark
    * iterative-graph pattern. Truncation uses RELIABLE `checkpoint()`
    * (checkpoint-dir storage, survives executor loss) whenever the
    * session has a checkpoint dir configured — an iterative algorithm
    * compounds the executor-decommission risk over every round, so
    * non-reliable `localCheckpoint` block storage is only the fallback
    * for local/test sessions that never set a dir. On a cluster, set
    * `spark.sparkContext.setCheckpointDir(<shared fs path>)` first.
    *
    * Returns (id, comp) where comp = min doc id of the component.
    *
    * SMALL-GRAPH FAST PATH: when the canonical (distinct, self-loop-free)
    * edge count is at or below `spark.graft.cc.localEdgeLimit` (default
    * 500k; 0 disables) and ids are LongType, the edge set is collected and
    * union-found on the driver — same (id, min-of-component) output, no
    * iterative rounds. The regime this serves is a 100 TB corpus whose
    * per-batch/per-delta pair graphs are batch-sized: the star rounds'
    * fixed cost (2-3 jobs + a reliable checkpoint write per round) is pure
    * overhead there. The collect is bounded by the limit the edge set was
    * just counted against, never corpus-shaped; a corpus-sized graph runs
    * the distributed contraction unchanged. The near-dup ingest path and
    * the streaming clusters fold share the same driver union-find
    * ([[componentMins]]) under the same limit, so a streamed batch costs
    * one pass over the index plus driver work bounded by the limit.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // Lineage hygiene via graft.core.Checkpoints: reliable checkpoint()
    // when a dir is configured (else localCheckpoint), and each round's
    // superseded checkpoint deleted once its successor is materialized
    // (the PeriodicCheckpointer pattern) — a call leaves only the final
    // star edges' files behind (the RETURNED labels project off them).
    import graft.core.Checkpoints.{truncate, pathOf => checkpointPathOf}
    def deleteCheckpoint(p: Option[org.apache.hadoop.fs.Path]): Unit =
      graft.core.Checkpoints.delete(sc, p)
    // Canonical parent edges (src, dst) with src > dst throughout.
    var edges = truncate(pairs
      .select(greatest(col("a_id"), col("b_id")).as("src"),
        least(col("a_id"), col("b_id")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var prevCp = checkpointPathOf(edges)
    var edgeCount = edges.count()
    // SMALL-GRAPH FAST PATH: below the (conf-gated, BOUNDED) edge limit,
    // collect the canonical edge set and union-find on the driver — the
    // output is bit-identical (comp = component min, unique regardless of
    // algorithm), but the cost is 3 driver round-trips instead of
    // 2-3 jobs × O(log diameter) star rounds, each of which also writes a
    // reliable checkpoint when a dir is set. This is the dominant regime
    // for per-batch streaming folds and delta ingests, whose edge sets
    // track the BATCH even when the corpus is 100 TB; a corpus-sized pair
    // graph (edgeCount above the limit) takes the distributed rounds
    // unchanged. The collect is bounded by the limit it was just counted
    // against — never corpus-shaped. Set spark.graft.cc.localEdgeLimit=0
    // to force the distributed path.
    val localLimit = localEdgeLimit(pairs.sparkSession)
    val longTyped = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (edgeCount <= localLimit && longTyped) {
      val collected = edges.collect()
      deleteCheckpoint(prevCp) // the local result projects off nothing
      val labels = componentMins(
        collected.map(row => (row.getLong(0), row.getLong(1)))).toSeq.sorted
      val session = pairs.sparkSession
      import session.implicits._
      return labels.toDF("id", "comp")
    }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Large-star: over the SYMMETRIC neighborhood of u, every neighbor
      // v > u hooks onto m = min(Γ(u) ∪ {u}). Each undirected edge is
      // emitted exactly once (from its smaller endpoint's group), so the
      // edge count never grows; connectivity is preserved (SoCC'14 Lem. 1).
      val sym = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = sym.groupBy("src").agg(min("dst").as("nmin"))
        .select(col("src"), least(col("src"), col("nmin")).as("m"))
      val large = sym.join(lsMin, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      // Small-star: u and all its (now strictly smaller) neighbors hook
      // onto m = min of those neighbors — flattening two-level trees.
      val ssMin = large.groupBy("src").agg(min("dst").as("m"))
      val small = large.join(ssMin, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(ssMin.select(col("src"), col("m").as("dst")))
        .distinct()
      val next = truncate(small)
      // Fixpoint = the edge set is stable (a star per component). Both
      // sides are distinct sets, so equal counts + empty one-way except
      // is set equality; both run on checkpointed (lineage-free) data.
      // The previous round's count is carried, so a non-final round costs
      // one count job (the except only runs when counts already agree).
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      deleteCheckpoint(prevCp) // superseded: next is materialized
      prevCp = checkpointPathOf(next)
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!converged) deleteCheckpoint(prevCp) // about to throw — don't leak
    // Partial labels are WORSE than no labels — one logical cluster split
    // in two means dedup keeps extra copies silently. Star contraction
    // halves the remaining depth each round, so a miss here means maxIter
    // was set below ~log2 of the graph diameter: fail loudly.
    require(converged, s"connectedComponents did not converge in $maxIter " +
      s"large-star/small-star rounds — raise maxIter (rounds needed grow " +
      "with log2 of the pair-graph diameter)")
    // Star graph: leaves point at their component min; centers label
    // themselves. Every input node is covered (a node is either some
    // star's leaf or its own component's min).
    edges.select(col("src").as("id"), col("dst").as("comp"))
      .unionByName(edges.select(col("dst")).distinct()
        .select(col("dst").as("id"), col("dst").as("comp")))
  }

  /** `spark.graft.cc.localEdgeLimit` (default 500k; 0 disables): the
    * largest edge set a component fold collects to the driver instead of
    * running distributed rounds.
    */
  private def localEdgeLimit(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.cc.localEdgeLimit", "500000").toLong

  /** The rows of `edges` when there are at most [[localEdgeLimit]] of
    * them — one job that collects no more than limit + 1 rows — else
    * None (also when the limit is 0): the caller's distributed path.
    */
  private[graft] def collectWithinLimit(edges: DataFrame)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val limit = localEdgeLimit(edges.sparkSession)
    if (limit <= 0) None
    else Some(edges.limit(math.min(limit, Int.MaxValue - 1L).toInt + 1)
      .collect()).filter(_.length <= limit)
  }

  /** Driver-side union-find over a bounded edge list: every endpoint of
    * `edges` mapped to its component minimum. Attaching the larger root
    * under the smaller keeps each root at its component's minimum, so
    * the labels equal the star-contraction fixpoint of
    * [[connectedComponents]] exactly. Self-loops just register their
    * node. Callers bound `edges` by [[localEdgeLimit]].
    */
  private[graft] def componentMins(edges: Iterable[(Long, Long)])
      : Map[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.iterator.map(id => id -> find(id)).toMap
  }

  /** Incrementally maintain cluster labels as NEW pair edges arrive —
    * the labels-as-star-edges contraction. An existing component is
    * already connected through its (id → comp) star, so running
    * [[connectedComponents]] over {star edges} ∪ {new pairs} yields
    * exactly the labels a full recompute over EVERY edge ever seen
    * would — without re-reading (or even retaining) a single old edge.
    * The component minimum is preserved under merging because each comp
    * label is itself a member, so min(merged) = min over old mins and
    * new ids — identical to the from-scratch answer.
    *
    * Scale shape: input is |labels| + |newPairs| rows — one bounded row
    * per already-clustered doc plus the delta's edges — versus the full
    * edge history a recompute needs; convergence is fast because old
    * components enter at star depth 1 (one large-star round folds a
    * new bridge between two stars). The streaming near-dup sinks fold
    * only the components a batch's pairs touch instead of the whole
    * label table (`Streams.landAcceptedAndClusters`), on the same
    * min-label invariant.
    *
    * `labels`: (id, comp) from a prior [[connectedComponents]] or
    * [[updateClusters]] call. `newPairs`: (a_id, b_id). Returns
    * (id, comp) covering every id in either input — ids untouched by
    * any edge (degenerate (id, id) labels) carry through unchanged.
    */
  def updateClusters(labels: DataFrame, newPairs: DataFrame,
                     maxIter: Int = 20): DataFrame = {
    val edges = labels.select(col("id").as("a_id"), col("comp").as("b_id"))
      .unionByName(newPairs.select(col("a_id"), col("b_id")))
    val cc = connectedComponents(edges, maxIter)
    // connectedComponents drops self-edges, so an id appearing ONLY as a
    // singleton (id, id) label would vanish — re-attach it self-labeled
    val allIds = labels.select(col("id"))
      .unionByName(newPairs.select(col("a_id").as("id")))
      .unionByName(newPairs.select(col("b_id").as("id")))
      .distinct()
    allIds.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** End-to-end near-duplicate REMOVAL: MinHash+LSH pairs (exact-Jaccard
    * verified) → connected components → keep the minimum id per cluster;
    * documents in no near-dup pair survive untouched. This is the
    * composition `graft.jobs.NearDupJob` runs from YAML, exposed as one
    * library call. Run [[exactKeepFirst]] first per the pairing recall
    * contract (unbounded exact-copy groups must already be collapsed).
    */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.8, n: Int = 3,
                         maxBandFreq: Option[Int] = None,
                         numHashes: Int = 64, numBands: Int = 16): DataFrame = {
    val pairs = minhashLshPairs(docs, idCol, textCol, threshold, n,
      numHashes, numBands, maxBandFreq = maxBandFreq)
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster collapse: contract `pairs` to connected
    * components, then per component pick the member with the HIGHEST
    * `quality` (ties → lowest id, so the choice is total and rerun-stable).
    * Returns one row per component: `(comp, n_members, kept_id, kept_q)`.
    * This is the representative-selection step practitioners run instead
    * of keep-min-id when members differ in quality (keep the longest /
    * highest-scored rendering, drop the truncated mirrors).
    *
    * Scale: the component table covers only documents that appear in a
    * pair — a small fraction of the corpus — and the winner is a
    * map-side-combining `max(struct(quality, -id))`, so nothing here
    * touches full-corpus text.
    */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
                         quality: Column): DataFrame =
    bestOfComps(connectedComponents(pairs), docs, idCol, quality)

  private def bestOfComps(comps: DataFrame, docs: DataFrame, idCol: String,
                          quality: Column): DataFrame = {
    val m = comps.join(
      docs.select(col(idCol).as("id"), quality.as("_q")), Seq("id"))
    val best = max(struct(col("_q"), (-col("id")).as("_nid"),
      col("id").as("_id")))
    m.groupBy("comp").agg(
      count(lit(1)).as("n_members"),
      best.getField("_id").as("kept_id"),
      best.getField("_q").as("kept_q"))
  }

  /** [[dropNearDuplicates]] with quality-aware representative selection:
    * per near-dup cluster the highest-`quality` member survives (ties →
    * lowest id) instead of the minimum id. Documents in no pair survive
    * untouched.
    */
  def dropNearDuplicatesKeepBest(docs: DataFrame, idCol: String,
                                 textCol: String, quality: Column,
                                 threshold: Double = 0.8, n: Int = 3,
                                 maxBandFreq: Option[Int] = None,
                                 numHashes: Int = 64,
                                 numBands: Int = 16): DataFrame = {
    val pairs = minhashLshPairs(docs, idCol, textCol, threshold, n,
      numHashes, numBands, maxBandFreq = maxBandFreq)
    val comps = connectedComponents(pairs) // checkpointed: reuse is cheap
    val winners = bestOfComps(comps, docs, idCol, quality)
    val drop = comps
      .join(winners.select(col("comp"), col("kept_id")), Seq("comp"))
      .filter(col("id") =!= col("kept_id"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): paraphrases and
    * re-renderings that no lexical dedup catches share an embedding
    * neighborhood, so (1) k-means the embedding column into `cells`, (2)
    * pair rows WITHIN a cell at exact cosine ≥ `threshold`
    * ([[Similarity.cellCosinePairs]] — the cell structure bounds the
    * quadratic term to cell occupancy; a dup pair split across cells is
    * the recall trade), (3) contract pairs with [[connectedComponents]]
    * and keep the minimum id per semantic cluster. Returns survivors with
    * their original columns.
    *
    * 100 TB shape: training samples via MLlib, assignment is the
    * broadcast-centroid native expression (no per-row UDF, plan O(1) in
    * `cells`); the only corpus shuffles are the cell self-join and the
    * log-round CC. Size `cells` ≈ corpus/target-occupancy exactly as for
    * IVF (the SemDeDup paper runs 50k cells at web scale).
    */
  def semanticDedup(corpus: DataFrame, idCol: String, embCol: String,
                    threshold: Double, cells: Int, seed: Long = 42L,
                    maxIter: Int = 20): DataFrame = {
    val emb = corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    val (clustered, _) = Similarity.kmeansCells(emb, cells, seed, maxIter)
    semanticDedupWithCells(corpus, clustered, idCol, embCol, "cell", threshold)
  }

  /** [[semanticDedup]] with a PRECOMPUTED cell assignment (`cellTable`
    * holds `vec_id`/`cell` — e.g. read back from a persisted
    * [[Similarity.writeClusteredIndex]] layout, or any partitioning that
    * groups semantic neighbors). Split out so the clustering can be
    * materialized once and reused across thresholds/reruns.
    */
  def semanticDedupWithCells(corpus: DataFrame, cellTable: DataFrame,
                             idCol: String, embCol: String, cellCol: String,
                             threshold: Double): DataFrame = {
    val clustered = corpus
      .select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
      .join(cellTable.select(col("vec_id"), col(cellCol).as("_sd_cell")), "vec_id")
    val pairs = Similarity.cellCosinePairs(clustered, "vec_id", "embedding",
      "_sd_cell", threshold)
    val drop = connectedComponents(pairs.select("a_id", "b_id"))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    corpus.join(drop, Seq(idCol), "left_anti")
  }

  /** Corpus-wide LINE-level exact dedup with document reassembly — the
    * C4/RefinedWeb boilerplate-removal step: cookie banners, nav bars, and
    * license footers repeat verbatim across millions of crawled pages, and
    * paragraph-grain dedup removes them without discarding the documents
    * that host them.
    *
    * Each occurrence of a line survives only at its FIRST position in the
    * corpus (minimum `(id, idx)` over all occurrences — deterministic
    * across partitionings and reruns); every later occurrence, including
    * repeats inside the same document, is dropped. Documents are rebuilt
    * from their surviving lines in original order; documents whose every
    * line was seen earlier disappear entirely (they were pure boilerplate).
    *
    * Returns `(id, text, n_kept, n_dropped)`.
    *
    * 100 TB shape: three corpus shuffles, each on a key that spreads —
    * (1) groupBy line (partial-agg `min(struct(id, idx))` combines
    * map-side, so a line repeated 10M times reduces to one candidate per
    * partition before the exchange — no hot-line skew, and never the
    * row_number-over-line window that would sort the hot line on one
    * task); (2) the survivor join back on (id, idx, line); (3) reassembly
    * groupBy id. The per-doc line total rides the exploded rows
    * (`size(arr)` is a constant per doc), so no extra corpus scan or
    * count-join is needed for `n_dropped`. No windows over corpus-wide
    * partitions, no driver materialization.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n"): DataFrame = {
    val arr = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val lines = docs
      .select(col(idCol).as("id"), size(arr).as("n_lines"), arr.as("arr"))
      .select(col("id"), col("n_lines"), posexplode(col("arr")).as(Seq("idx", "line")))
    val first = lines.groupBy("line")
      .agg(min(struct(col("id"), col("idx"))).as("keep"))
    val kept = lines.join(first, "line")
      .filter(col("id") === col("keep.id") && col("idx") === col("keep.idx"))
      .select("id", "n_lines", "idx", "line")
    kept.groupBy("id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("line")))),
            x => x.getField("line")), sep).as("text"),
        count(lit(1)).as("n_kept"),
        max(col("n_lines")).as("n_lines"))
      .select(col("id").as(idCol), col("text"), col("n_kept"),
        (col("n_lines").cast("long") - col("n_kept")).as("n_dropped"))
  }

  /** Cross-document SUBSTRING-level exact dedup (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr operation, approximated at token grain): crawl corpora
    * repeat long boilerplate spans MID-document (terms-of-service
    * paragraphs, navigation text, quoted passages) that neither whole-doc
    * nor line-grain dedup sees. Instead of a suffix array, every k-token
    * sliding window is fingerprinted (md5 of the window text — the
    * exchange carries 32-byte keys, not k-token strings); a window
    * repeated across ≥2 DISTINCT documents survives only at its first
    * corpus occurrence (minimum `(id, start)` — deterministic across
    * partitionings), and every token covered by a non-first occurrence of
    * a repeated window is removed. A repeated span of length L ≥ k is
    * covered by its L−k+1 repeated windows, so the whole span is cut —
    * token-exact for spans ≥ k, which is the suffix-array op's contract
    * at chunk resolution. Within-doc-only repetition is left alone
    * (that's [[dedupLines]]/repetition-ratio territory).
    *
    * Documents rebuild from surviving tokens in original order; documents
    * whose every token was covered disappear (pure boilerplate), as in
    * [[dedupLines]]. Returns `(id, text, n_kept, n_removed)`.
    *
    * 100 TB shape: window fingerprints combine map-side into the
    * (key)-grouped min/distinct-count aggregation — no all-pairs, no
    * window-over-corpus sort; the cut join reuses the wins subtree's
    * exchange; coverage explode is bounded by k × cut occurrences, not
    * corpus size. Shuffles carry md5 keys and (id, start) ints only.
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 8, sep: String = " "): DataFrame = {
    require(k >= 2, s"span width k must be >= 2 tokens, got $k")
    val toks = spanToks(docs, idCol, textCol, sep)
    val wins = spanWindows(toks, k, sep)
    val grp = wins.groupBy("wkey").agg(
      min(struct(col("id"), col("start"))).as("keep"),
      countDistinct(col("id")).as("n_docs"))
    val cut = wins.join(grp.filter(col("n_docs") >= 2), "wkey")
      .filter(!(col("id") === col("keep.id") && col("start") === col("keep.start")))
      .select(col("id"), col("start"))
    reassembleUncovered(toks, cut, idCol, k, sep)
  }

  /** `(id, toks, n_toks)` token frame for the span family. */
  private def spanToks(docs: DataFrame, idCol: String,
                       textCol: String, sep: String): DataFrame = {
    val arr = split(col(textCol), java.util.regex.Pattern.quote(sep))
    docs.select(col(idCol).as("id"), arr.as("toks"), size(arr).as("n_toks"))
  }

  /** (id, start[1-based], wkey): all k-token windows, fingerprinted. */
  private def spanWindows(toks: DataFrame, k: Int, sep: String): DataFrame =
    toks.filter(col("n_toks") >= k)
      .select(col("id"), explode(transform(
        sequence(lit(1), col("n_toks") - (k - 1)),
        s => struct(s.cast("int").as("start"),
          md5(array_join(slice(col("toks"), s, lit(k)), sep)).as("wkey")))).as("w"))
      .select(col("id"), col("w.start").as("start"), col("w.wkey").as("wkey"))

  /** Drop every token position covered by a cut window and reassemble
    * each doc's surviving tokens in order → `(id, text, n_kept,
    * n_removed)`. Docs with no cuts pass through byte-identical.
    */
  private def reassembleUncovered(toks: DataFrame, cut: DataFrame,
                                  idCol: String, k: Int,
                                  sep: String): DataFrame = {
    val covered = cut.select(col("id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .distinct()
    val tok = toks
      .select(col("id"), col("n_toks"), posexplode(col("toks")).as(Seq("p0", "tok")))
      .withColumn("pos", col("p0") + 1)
    val kept = tok.join(covered, Seq("id", "pos"), "left_anti")
    kept.groupBy("id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), sep).as("text"),
        count(lit(1)).as("n_kept"),
        max(col("n_toks")).as("n_toks"))
      .select(col("id").as(idCol), col("text"), col("n_kept"),
        (col("n_toks").cast("long") - col("n_kept")).as("n_removed"))
  }

  /** Span-level DECONTAMINATION: remove every ≥`k`-token span of a
    * corpus document that appears verbatim in a reference corpus
    * (benchmark/eval set), keeping the rest of the document — the
    * Llama-style decontamination that doc-level flagging
    * ([[TextAnalysis.contaminationFlags]]) can't express: there the doc
    * is kept or dropped whole; here only the contaminated tokens go.
    * Same window-fingerprint machinery as [[dedupSpans]], but matched
    * against the reference's window set instead of first-occurrence
    * ranking.
    *
    * Scale shape: the reference window set is distinct-reduced and
    * broadcast when small (eval sets are, by definition), gated like
    * [[TextAnalysis.contaminationFlags]] with a shuffle-join fallback —
    * pass `refWinRows` from a prior count to skip the gate's count. The
    * corpus is never shuffled before the window join; the reassembly
    * aggregates by doc id.
    */
  def dedupSpansAgainst(docs: DataFrame, ref: DataFrame, idCol: String,
                        textCol: String, k: Int = 8, sep: String = " ",
                        maxBroadcastWins: Long = 10000000L,
                        refWinRows: Option[Long] = None): DataFrame = {
    require(k >= 2, s"span width k must be >= 2 tokens, got $k")
    val toks = spanToks(docs, idCol, textCol, sep)
    val wins = spanWindows(toks, k, sep)
    val refWins = spanWindows(spanToks(ref, idCol, textCol, sep), k, sep)
      .select("wkey").distinct()
    val refSide =
      if (refWinRows.getOrElse(refWins.count()) <= maxBroadcastWins)
        broadcast(refWins)
      else refWins
    val cut = wins.join(refSide, "wkey").select(col("id"), col("start"))
    reassembleUncovered(toks, cut, idCol, k, sep)
  }

  /** 64-bit SimHash fingerprint per document: per-bit majority vote over
    * xxhash64(token) — expressed as 64 codegen'd aggregate columns (sum of
    * ±1 per bit), then packed into one long. One shuffle on doc_id.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$i")
    }
    val agg = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val packed = (0 until 64).map { i =>
      when(col(s"b_$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), packed.as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance <= maxDist, candidate-
    * generated by 4-way band blocking (any 16-bit quarter equal) so the
    * self-join never goes O(n²).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3,
                   maxBandFreq: Option[Int] = None): DataFrame =
    simhashPairsFrom(simhash(docs, idCol, textCol), maxDist, maxBandFreq)

  /** Banding + hamming pairing over an existing (doc_id, simhash) table —
    * split out from [[simhashPairs]] so the fingerprint table can be
    * materialized (and independently verified) between the two stages.
    *
    * `maxBandFreq` is the skew guard for template-heavy corpora (the
    * [[jaccardPairs]] `maxShingleFreq` analog): a 16-bit band value
    * shared by millions of near-identical docs lands them all on one join
    * key with a quadratic within-key candidate blowup. With a cap of f,
    * bands present in > f docs are pruned from candidate generation
    * (worst-case f² candidates per band key). The recall trade is
    * explicit: a pair is missed only if EVERY band it shares is hot —
    * which is the unbounded-exact-copy shape; per the same contract as
    * jaccard's cap, run [[exactKeepFirst]] before pairing.
    */
  def simhashPairsFrom(fp: DataFrame, maxDist: Int = 3,
                       maxBandFreq: Option[Int] = None): DataFrame = {
    // 4 disjoint 16-bit bands guarantee (pigeonhole) that any pair within
    // hamming distance 3 shares at least one identical band; at maxDist 4+
    // the blocking would silently drop qualifying pairs
    require(maxDist <= 3, s"simhashPairs with 4 bands guarantees recall only " +
      s"for maxDist <= 3 (got $maxDist)")
    val allBands = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(q =>
        struct(lit(q).as("q"),
          shiftright(col("simhash"), q * 16).bitwiseAND(0xFFFFL).as("qh"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.q").as("q"), col("b.qh").as("qh"))
    val banded = maxBandFreq match {
      case None => allBands
      case Some(f) =>
        // partial-agg frequency + semi-join (skew-safe, same shape as the
        // capped-jaccard frequency annotation)
        val freq = allBands.groupBy("q", "qh").agg(count(lit(1)).as("_bf"))
        allBands.join(freq.filter(col("_bf") <= f), Seq("q", "qh"), "left_semi")
    }
    val cand = banded.as("x").join(banded.as("y"),
        col("x.q") === col("y.q") && col("x.qh") === col("y.qh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()
    cand.withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** Fuzzy KEY matching — entity resolution for short strings (names,
    * titles, SKUs), where [[jaccardPairs]]'s shingle machinery is
    * overkill and edit distance is the right metric: candidate pairs
    * block on `(prefix(4), length bucket of width maxDistance)` of the
    * dedup-normalized key — an edit-distance-≤d pair can differ by at
    * most d in length, so only ADJACENT length buckets can hold a
    * match, and each side probes its own and the next bucket (never
    * both directions, or pairs double) — then exact `levenshtein`
    * confirms. A typo inside the first 4 characters escapes the block
    * (documented recall bound — the standard blocking trade; widen
    * with a second blocking pass on a suffix if the domain needs it).
    *
    * `maxBlockSize` caps pathological blocks (the [[jaccardPairs]]
    * `maxShingleFreq` convention): blocks larger than the cap are
    * SKIPPED deterministically, trading recall for a hard quadratic
    * bound.
    *
    * Returns matched pairs `(a_id, b_id, a_key, b_key, dist)` with
    * `a_id < b_id`.
    */
  def fuzzyKeyPairs(df: DataFrame, idCol: String, keyCol: String,
                    maxDistance: Int = 2,
                    maxBlockSize: Long = 10000L): DataFrame = {
    require(maxDistance >= 1, s"maxDistance must be >= 1: $maxDistance")
    val norm = graft.functions.TextFunctions.normalize(col(keyCol))
    // ENTITY GRAIN first: collapse to DISTINCT normalized keys (min-id
    // representative) before any pairing. Raw-row pairing is quadratic
    // in a popular key's COPY count — a key repeated 10^4 times mints
    // 10^8 identical-outcome comparisons (measured 37 s on the sf0.1
    // part table before this contraction; 2.1 s after) — and the copies
    // carry no pairing information the representative doesn't.
    val base = df
      .select(col(idCol).as("_rawid"), col(keyCol).as("_rawkey"), norm.as("_nk"))
      .groupBy("_nk")
      .agg(min_by(struct(col("_rawid").as("_id"), col("_rawkey").as("_key")),
        col("_rawid")).as("_r"))
      .select(col("_r._id").as("_id"), col("_r._key").as("_key"), col("_nk"))
      .withColumn("_pfx", substring(col("_nk"), 1, 4))
      .withColumn("_lb", (length(col("_nk")) / lit(maxDistance + 1)).cast("long"))
    val sized = base.join(
      base.groupBy("_pfx", "_lb").agg(count(lit(1)).as("_bn")),
      Seq("_pfx", "_lb"))
      .filter(col("_bn") <= maxBlockSize)
    // each row probes its own bucket and the next — one direction only
    val probes = sized.select(col("_pfx"), col("_lb"), col("_id"),
        col("_key"), col("_nk"))
      .withColumn("_plb", explode(array(col("_lb"), col("_lb") + 1)))
    // Orientation: same-bucket pairs order by id INSIDE the join (found
    // once, via the smaller id's own-bucket probe); cross-bucket pairs
    // are found only via the smaller BUCKET's next-probe regardless of
    // id order — so the id constraint must not apply there, and the
    // output re-orients by id afterwards.
    val smaller = col("x._id") < col("y._id")
    val cand = probes.as("x")
      .join(sized.as("y"),
        col("x._pfx") === col("y._pfx") && col("x._plb") === col("y._lb") &&
          (col("x._lb") =!= col("y._lb") || smaller))
      .select(
        when(smaller, col("x._id")).otherwise(col("y._id")).as("a_id"),
        when(smaller, col("y._id")).otherwise(col("x._id")).as("b_id"),
        when(smaller, col("x._key")).otherwise(col("y._key")).as("a_key"),
        when(smaller, col("y._key")).otherwise(col("x._key")).as("b_key"),
        levenshtein(col("x._nk"), col("y._nk")).as("dist"))
      .filter(col("a_id") =!= col("b_id"))
    cand.filter(col("dist") <= maxDistance)
      .distinct()
  }

  /** Drop fuzzy-key duplicates keep-first, at two grains in one pass:
    * exact copies of a normalized key always collapse onto the key's
    * min id (independent of blocking — a popular key can never escape
    * through the block cap), and a key FAMILY whose representative is
    * the larger side of a [[fuzzyKeyPairs]] match drops entirely
    * (pair-grain across families; run [[connectedComponents]] over the
    * pairs when transitive cluster collapse is wanted).
    */
  def dropFuzzyKeyDuplicates(df: DataFrame, idCol: String, keyCol: String,
                             maxDistance: Int = 2,
                             maxBlockSize: Long = 10000L): DataFrame = {
    val norm = graft.functions.TextFunctions.normalize(col(keyCol))
    val minIds = df
      .select(col(idCol).as("_mid"), norm.as("_nk"))
      .groupBy("_nk").agg(min("_mid").as("_keep"))
    val dropped = fuzzyKeyPairs(df, idCol, keyCol, maxDistance, maxBlockSize)
      .select(col("b_id").as("_keep")).distinct()
    df.withColumn("_nk", norm)
      .join(minIds, "_nk")
      .filter(col(idCol) === col("_keep"))
      .join(dropped, Seq("_keep"), "left_anti")
      .drop("_nk", "_keep")
  }
}
