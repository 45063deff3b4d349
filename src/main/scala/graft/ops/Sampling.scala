package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / dataset splitting for training pipelines.
  *
  * A train/val/test split must be a pure function of the record identity:
  * stable across engines, partitionings, reruns, and corpus growth — a
  * document must never migrate from eval into train when the pipeline
  * re-runs (`sample()`/`randomSplit` give none of that). Buckets come
  * from md5 of (salt || id): cryptographic mixing, available bit-identical
  * on every engine (unlike xxhash64), salt-switchable so independent
  * experiments get independent partitions.
  */
object Sampling {

  /** Uniform bucket in [0, buckets) from md5(salt || id). The first 15
    * hex chars (60 bits) fit a signed long on both engines:
    * Spark `conv(hex, 16, 10)` == DuckDB `CAST('0x' || hex AS BIGINT)`.
    */
  def hashBucket(id: Column, salt: String, buckets: Int = 100): Column =
    pmod(
      conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 15), 16, 10)
        .cast("long"),
      lit(buckets.toLong))

  /** Balanced label downsampling — equalize a skewed label/class
    * distribution by keeping exactly `min(label count)` rows per label
    * (or `perLabel` when set, capped at each label's size),
    * deterministically: rows compete per label on the portable
    * `(md5(salt || id), id)` priority, so the selection is a pure
    * function of the id set — replays identically on any engine or
    * partitioning, the [[hashSplit]] determinism contract.
    *
    * Scale shape: one label-grain count (map-side combined; for the
    * default mode its MIN is collected to the driver — one scalar), one
    * per-label rank window whose filter compares against a LITERAL cap.
    * The literal is what lets Spark plan WindowGroupLimit (per-partition
    * per-label top-n BELOW the exchange) — with a Column cap the
    * op's core use case (a 90%-majority label) would sort the whole
    * majority class inside one window task. `rank <= lit(cap)` is exact
    * even when `cap > n_label`: `row_number` never exceeds the
    * partition size, so `least(cap, n_label)` and `cap` admit the same
    * rows.
    *
    * Output: the kept input rows + `(n_label, n_keep)` for audit.
    */
  def balancedDownsample(df: DataFrame, labelCol: String, idCol: String,
                         salt: String = "bal",
                         perLabel: Option[Long] = None): DataFrame = {
    val counts = df.groupBy(col(labelCol)).agg(count(lit(1)).as("n_label"))
    val keepCap: Long = perLabel match {
      case Some(n) =>
        require(n >= 1, s"perLabel must be >= 1: $n")
        n
      case None =>
        // bounded driver action: one row (global MIN over the label-count
        // table). Empty input → null min → cap 1; the filter is vacuous.
        val r = counts.agg(min("n_label")).collect()(0)
        if (r.isNullAt(0)) 1L else r.getLong(0)
    }
    val sized = counts.withColumn("n_keep", least(lit(keepCap), col("n_label")))
    val w = Window.partitionBy(labelCol)
      .orderBy(hashBucket(col(idCol), salt, 1000000), col(idCol))
    df.join(broadcast(sized), labelCol)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= lit(keepCap))
      .drop("_rn")
  }

  /** Weighted sampling WITHOUT replacement, n items with inclusion odds
    * proportional to `weightCol` — Efraimidis–Spirakis (2006) priority
    * sampling: each row draws a deterministic uniform u from the md5
    * hash of its id and competes on key = ln(u) / w (the log-monotone
    * form of u^(1/w)); the n largest keys win. One pass, no global sort:
    * the order-by + limit plans as TakeOrderedAndProject (per-partition
    * top-n, merged on the driver — n rows per partition in flight, never
    * the corpus).
    *
    * The key is kept in integer micro-units (round 6) so the selection
    * boundary is engine-replayable: a last-ulp `ln` difference between
    * engines cannot flip a rank, and ties (impossible in practice, but
    * pinned anyway) break by id.
    *
    * Rows with weight <= 0 never qualify. Returns the input row plus
    * `key_micro`, ordered best-first.
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
                     n: Int, salt: String = "es"): DataFrame =
    df.filter(col(weightCol) > 0)
      .withColumn("key_micro", esKeyMicro(idCol, weightCol, salt))
      .orderBy(col("key_micro").desc, col(idCol))
      .limit(n)

  /** The deterministic Efraimidis–Spirakis competition key in integer
    * micro-units — ln(u)/w with u drawn from the md5 hash of the salted
    * id (see [[prioritySample]] for the derivation and why micro-units:
    * the selection boundary must replay identically across engines and
    * across the batch/streaming twins). One definition shared by both
    * batch samplers and the streaming reservoir lane
    * ([[reservoirPartial]]).
    */
  def esKeyMicro(idCol: String, weightCol: String,
                 salt: String): org.apache.spark.sql.Column = {
    val m = math.pow(2.0, 60)
    val u = (conv(substring(md5(concat(lit(salt),
      col(idCol).cast("string"))), 1, 15), 16, 10).cast("long") + 0.5) / m
    round(round(log(u) / col(weightCol).cast("double"), 6) * 1e6, 0)
      .cast("long")
  }

  /** One feed's (or micro-batch's) reservoir partial: ITS OWN per-group
    * top-n under the deterministic E-S key ([[esKeyMicro]] — a pure
    * function of id and weight, no RNG state), without `rank` (rank is
    * a property of the MERGED reservoir). Landed per batch through
    * [[graft.streaming.Streams.partialsSink]] and folded by
    * [[reservoirMerge]], the streamed reservoir is bit-identical to the
    * batch sampler over everything streamed so far, held to the SAME
    * DuckDB oracle (q210 vs q139). A partial never exceeds groups × n
    * rows regardless of batch size; a replayed batch lands the same
    * rows, and reservoirMerge's largest-key-per-id collapse makes any
    * duplicate copy harmless.
    */
  def reservoirPartial(batch: DataFrame, idCol: String, groupCol: String,
                       weightCol: String, n: Int,
                       salt: String = "es"): DataFrame =
    prioritySamplePerGroup(batch, idCol, groupCol, weightCol, n, salt)
      .drop("rank")

  /** Fold E-S reservoir partials back into ONE reservoir: collapse to a
    * single row per id (largest key wins — replayed copies of a row are
    * identical, and a re-weighted row competes on its best draw), then
    * re-rank the per-group top-n boundary exactly like
    * [[prioritySamplePerGroup]]. The E-S key is a pure function of
    * (id, weight), so top-n is associative — top_n(A ∪ B) =
    * top_n(top_n(A) ∪ top_n(B)) — and merging per-batch top-n partials
    * is bit-identical to sampling the concatenated stream. Input is
    * bounded by construction (each partial is already a per-group
    * top-n), so these windows never see more than partials × groups × n
    * rows.
    */
  def reservoirMerge(partials: DataFrame, idCol: String, groupCol: String,
                     n: Int): DataFrame = {
    // Per-id collapse must be DETERMINISTIC even when the same id shows
    // up in different batches with an equal key_micro but a changed
    // payload (re-weighted to the same key, or an attribute edit):
    // tie-break on a stable hash of every non-key column so each run —
    // and the batch-replay twin — picks the same winner. xxhash64
    // rejects MapType (even nested) unless a legacy flag is set, so
    // map-bearing payload columns hash their to_json rendering instead
    // — stable across replays (parquet re-reads preserve map entry
    // order) and never an analysis failure.
    def holdsMap(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.MapType => true
        case s: org.apache.spark.sql.types.StructType =>
          s.fields.exists(f => holdsMap(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType =>
          holdsMap(a.elementType)
        case _ => false
      }
    val payload = partials.schema.fields.toSeq
      .filterNot(f => f.name == idCol || f.name == "key_micro")
      .sortBy(_.name)
      .map(f => if (holdsMap(f.dataType)) to_json(col(f.name))
                else col(f.name))
    val byId = Window.partitionBy(col(idCol))
      .orderBy((col("key_micro").desc +:
        (if (payload.isEmpty) Nil else Seq(xxhash64(payload: _*).asc))): _*)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("key_micro").desc, col(idCol))
    partials
      .withColumn("_dup", row_number().over(byId)).filter(col("_dup") === 1)
      .drop("_dup")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
  }

  /** [[prioritySample]] per group: n items per `groupCol` value, same
    * Efraimidis-Spirakis keys, ranked with a per-group window instead of
    * a global TakeOrdered — Spark pushes the rank filter down as
    * WindowGroupLimit (per-partition per-group top-n before the
    * shuffle), so a group never sorts more than n rows per input
    * partition. The balanced-export primitive: "500 docs per source,
    * weighted by quality".
    */
  def prioritySamplePerGroup(df: DataFrame, idCol: String, groupCol: String,
                             weightCol: String, n: Int,
                             salt: String = "es"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("key_micro").desc, col(idCol))
    df.filter(col(weightCol) > 0)
      .withColumn("key_micro", esKeyMicro(idCol, weightCol, salt))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
  }

  /** Assign a split label per row by cumulative fraction over 10k hash
    * buckets (0.01% granularity). `fractions` must sum to <= 1; rows
    * falling past the last bound get the final label (so (train 0.8,
    * val 0.1, test 0.1) is exhaustive and exact to the bucket).
    */
  def hashSplit(df: DataFrame, idCol: String, salt: String,
                fractions: Seq[(String, Double)],
                outCol: String = "split"): DataFrame = {
    require(fractions.nonEmpty, "need at least one (label, fraction)")
    val total = fractions.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"fractions sum to $total > 1")
    val buckets = 10000
    val bucket = hashBucket(col(idCol), salt, buckets)
    val bounds = fractions.scanLeft(0.0)(_ + _._2).tail
      .map(f => math.round(f * buckets))
    val expr = fractions.zip(bounds).init
      .foldRight(lit(fractions.last._1): Column) {
        case (((label, _), bound), elseCol) =>
          when(bucket < bound, label).otherwise(elseCol)
      }
    df.withColumn(outCol, expr)
  }

  /** Deterministic fraction-of-corpus sample (keep iff bucket < p·10k). */
  def hashSample(df: DataFrame, idCol: String, salt: String,
                 fraction: Double): DataFrame =
    df.filter(hashBucket(col(idCol), salt, 10000) < math.round(fraction * 10000))

  /** Leakage-safe TEMPORAL split — the time-series counterpart of
    * [[hashSplit]]: rows strictly before `cutoff` train, rows at or
    * after `cutoff + embargoSeconds` test, and the embargo gap between
    * them is labeled `embargo` and belongs to neither (the standard
    * guard against look-ahead leakage through lagged features /
    * near-boundary correlation, cf. purged walk-forward validation).
    * Microsecond-exact integer comparisons; a row-local `withColumn`,
    * free at any scale.
    */
  def temporalSplit(df: DataFrame, tsCol: String, cutoff: String,
                    embargoSeconds: Long = 0L,
                    outCol: String = "split"): DataFrame = {
    require(embargoSeconds >= 0, s"embargoSeconds must be >= 0: $embargoSeconds")
    val cutUs = unix_micros(to_timestamp(lit(cutoff)))
    // cast first: a TIMESTAMP_NTZ column (raw micros parquet read
    // without Tables.load) resolves through the UTC session instead of
    // failing analysis
    val us = unix_micros(col(tsCol).cast("timestamp"))
    df.withColumn(outCol,
      when(us < cutUs, "train")
        .when(us >= cutUs + embargoSeconds * 1000000L, "test")
        .otherwise("embargo"))
  }

  /** Stratified deterministic sample: a per-stratum keep fraction — the
    * training-mix weighting step (downsample boilerplate-heavy languages /
    * sources, keep scarce ones whole). Keep iff `bucket(salt, id) <
    * fraction(stratum)·10k`; strata not listed get `defaultFraction`.
    *
    * Same purity contract as [[hashSplit]]: membership is a function of
    * (salt, id, stratum fraction) alone — independent of partitioning,
    * rerun, corpus growth, and of the other rows (no global sort, no
    * count; the filter is a pure column predicate, fully pushdown-
    * eligible, zero shuffle).
    */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
                           salt: String, fractions: Seq[(String, Double)],
                           defaultFraction: Double = 1.0): DataFrame = {
    (fractions.map(_._2) :+ defaultFraction).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fractions must be in [0,1], got $f"))
    val bucket = hashBucket(col(idCol), salt, 10000)
    val bound = fractions.foldRight(lit(math.round(defaultFraction * 10000)): Column) {
      case ((stratum, f), elseCol) =>
        when(col(strataCol) === stratum, math.round(f * 10000)).otherwise(elseCol)
    }
    df.filter(bucket < bound)
  }

  /** Temperature-based mix re-balancing (the multilingual-mix step of
    * XLM-R/mT5, Conneau et al. 2020: source sampling probability
    * `p_g ∝ n_g^alpha`): each group's keep rate is
    * `rate_g = min(1, targetFrac · N · n_g^alpha / Z / n_g)` with
    * `Z = Σ n_h^alpha`, so the kept corpus is ~`targetFrac` of the input
    * drawn at temperature `alpha`. `alpha = 1` keeps every group at
    * `targetFrac`; `alpha < 1` flattens the mix toward scarce groups
    * (their rate caps at 1 — this op keeps whole groups rather than
    * duplicating rows); `alpha > 1` sharpens toward big ones.
    *
    * Membership is the same pure-hash contract as [[hashSplit]]: keep iff
    * `bucket(salt, id) < floor(rate_g · 10⁶)` — a rerun, another engine,
    * or a repartition keeps exactly the same rows. Determinism holds at
    * both float seams: each group's `n^α` quantizes to a 1e-12-scaled
    * decimal before the `Z` normalizer sums (exact integer addition —
    * order-independent, unlike a raw double sum whose partition-arrival
    * order could shift the last ulp), and rates round to 6 decimals
    * BEFORE the comparison so a last-ulp `pow` difference between
    * engines cannot flip a row.
    *
    * Rows whose group is NULL are excluded throughout — from the counts,
    * the normalizer, and the output (an inner join on a null key can
    * never match; counting them while never sampling them would skew
    * every other group's rate).
    *
    * 100 TB shape: one bounded-key count aggregation (map-side combined),
    * rates broadcast back, then a pure filter — the corpus itself never
    * shuffles. Returns the kept rows plus their `mix_rate`.
    */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
                        salt: String, alpha: Double,
                        targetFrac: Double): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    require(targetFrac > 0 && targetFrac <= 1,
      s"targetFrac must be in (0, 1], got $targetFrac")
    val grouped = df.filter(col(groupCol).isNotNull)
    val counts = grouped.groupBy(col(groupCol)).agg(count(lit(1)).as("_cnt"))
    val zTerm = (pow(col("_cnt").cast("double"), alpha) * lit(1e12))
      .cast("decimal(38,0)")
    val tot = counts.agg(sum("_cnt").as("_total"),
      (sum(zTerm).cast("double") / lit(1e12)).as("_zsum"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("mix_rate", round(
        least(lit(1.0),
          lit(targetFrac) * col("_total") *
            pow(col("_cnt").cast("double"), alpha) /
            col("_zsum") / col("_cnt")), 6))
      .select(col(groupCol), col("mix_rate"))
    grouped.join(broadcast(rates), groupCol)
      .filter(hashBucket(col(idCol), salt, 1000000) <
        floor(col("mix_rate") * 1000000))
  }

  /** Epoch-based source upsampling (the LLaMA data-recipe step, Touvron
    * et al. 2023 Table 1: "Wikipedia 2.45 epochs, Books 2.23, CommonCrawl
    * 0.64"): each group `g` is repeated `epochs(g)` times — every row
    * replicated `floor(e)` times, plus one extra copy iff
    * `bucket(salt, id) < frac(e)·10⁶`, so the FRACTIONAL epoch is the
    * same pure-hash membership contract as [[hashSplit]] (deterministic
    * across engines, reruns, partitionings; independent of other rows).
    * `e < 1` degenerates to plain downsampling, `e = 0` drops the group.
    *
    * Output adds `epoch` — the 0-based copy index — so a downstream
    * shuffled export ([[graft.ops.Layout]]) can spread a document's
    * copies across the training order (same id, different epoch ⇒
    * different shuffle key).
    *
    * 100 TB shape: zero shuffle — the epoch count is a pure column
    * expression over the group label (groups are few: sources), and the
    * replication is a row-local `explode` whose fan-out is bounded by
    * `ceil(max epochs)`. Quantization: `floor(e)` and
    * `round(frac·10⁶)` are computed driver-side in exact arithmetic, so
    * no float seam reaches the plan.
    */
  def epochMix(df: DataFrame, idCol: String, groupCol: String,
               epochs: Seq[(String, Double)], defaultEpochs: Double = 1.0,
               salt: String = "epoch"): DataFrame = {
    (epochs.map(_._2) :+ defaultEpochs).foreach(e =>
      require(e >= 0.0 && e <= 1000.0, s"epochs must be in [0, 1000], got $e"))
    def full(e: Double): Long = math.floor(e).toLong
    def fracBound(e: Double): Long = math.round((e - math.floor(e)) * 1000000L)
    val fullCol = epochs.foldRight(lit(full(defaultEpochs)): Column) {
      case ((g, e), elseCol) => when(col(groupCol) === g, full(e)).otherwise(elseCol)
    }
    val boundCol = epochs.foldRight(lit(fracBound(defaultEpochs)): Column) {
      case ((g, e), elseCol) =>
        when(col(groupCol) === g, fracBound(e)).otherwise(elseCol)
    }
    val extra = when(
      hashBucket(col(idCol), salt, 1000000) < boundCol, 1L).otherwise(0L)
    val n = fullCol + extra
    df.withColumn("epoch",
        explode(when(n > lit(0L), sequence(lit(0L), n - 1))
          .otherwise(array().cast("array<bigint>"))))
  }

  /** Token-budget sampling: per `groupCol` (source, language, domain...)
    * keep a deterministic prefix of documents until `budgetPerGroup`
    * tokens are consumed — the "mix N billion tokens per source" step of
    * a training-mix recipe, made reproducible. Order within a group is
    * (md5 priority, id) — a seeded uniform shuffle, identical across
    * engines and reruns — and a document is kept iff the tokens consumed
    * BEFORE it are still under budget, so the budget is met or slightly
    * exceeded by at most one document (never undershot while documents
    * remain).
    *
    * 100 TB shape: one shuffle on the group key; the running sum is O(1)
    * window state. Groups are few (sources/languages), so partitions are
    * large but the window never buffers — skew relief, if one source
    * dominates, is the same salting ladder as any single-key window.
    */
  def tokenBudgetSample(df: DataFrame, idCol: String, groupCol: String,
                        tokensCol: String, budgetPerGroup: Long,
                        salt: String = "budget"): DataFrame = {
    require(budgetPerGroup > 0,
      s"budgetPerGroup must be > 0, got $budgetPerGroup")
    val prio = conv(substring(
      md5(concat(lit(salt), col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(prio, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("_before", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .filter(col("_before") < budgetPerGroup)
      .drop("_before")
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * never straddle the split boundary (a test doc with a train near-dup
    * is contamination the doc-level [[hashSplit]] cannot see). Every
    * member of a near-dup cluster gets the SAME assignment: the cluster
    * collapses to its representative (the component's min id from
    * [[Dedup.connectedComponents]]; singletons represent themselves) and
    * the [[hashSplit]] hash runs on the representative instead of the
    * row id. Pure-function contract is preserved at cluster grain —
    * membership depends only on (salt, cluster structure).
    *
    * 100 TB shape: `pairs` is the near-dup pair list (already sub-linear
    * from LSH/MinHash candidate generation), components contract in
    * O(log n) rounds, and the final join keys the corpus once on id —
    * the component table is orders of magnitude smaller than the corpus
    * (only docs that HAVE a near-dup appear in it), so AQE broadcasts it
    * in the common regime.
    *
    * Returns the input plus `(rep, outCol)`.
    */
  def clusterSafeSplit(df: DataFrame, pairs: DataFrame, idCol: String,
                       salt: String, fractions: Seq[(String, Double)],
                       outCol: String = "split"): DataFrame = {
    val comps = Dedup.connectedComponents(pairs)
      .withColumnRenamed("id", "_cs_id")
    val rep = coalesce(col("comp"), col(idCol)).as("rep")
    val split = hashSplit(
      df.join(comps, df(idCol) === comps("_cs_id"), "left")
        .select(df.columns.map(df(_)) :+ rep: _*),
      "rep", salt, fractions, outCol)
    split
  }

  /** Deterministic sequence packing: assign each document a (shard, bin,
    * offset) so training can concatenate documents into fixed
    * `budget`-token bins — greedy fill in id order within a shard. The
    * pretraining batch-assembly step, made reproducible: the layout is a
    * pure function of (salt, ids, token counts), so a re-run (or another
    * engine) packs identically.
    *
    * Sharding is the scale story: a single global greedy pack is a total
    * order — one window, one task, no matter the cluster. Packing
    * per-shard (deterministic md5 shard from the id) keeps every shard
    * independent and parallel at the cost of at most one partially-filled
    * bin per shard. Within a shard the window sorts by id — shard sizes
    * are corpus/`shards`, so pick `shards` so a shard's rows fit an
    * executor's sort spill comfortably.
    *
    * A document longer than `budget` starts at its greedy offset and
    * implicitly spans bins (`offset + n_tokens > budget`); chunking it is
    * the trainer's concern, the layout stays exact.
    *
    * Returns the input plus (shard, bin, bin_offset).
    */
  /** Materialize [[packSequences]]'s layout into actual training rows:
    * one row per (shard, bin) with the member documents' text
    * concatenated in id order, `sep`-joined (the trainer's EOS token),
    * plus doc and token counts. The groupBy shuffles once on
    * (shard, bin); a bin holds at most ~`budget`/min-doc-tokens
    * documents by construction, so the per-group collect is bin-local
    * and bounded — never corpus-scale state.
    */
  def packedText(df: DataFrame, idCol: String, textCol: String,
                 tokenCol: String, budget: Long, shards: Int = 1024,
                 salt: String = "pack", sep: String = "<eos>"): DataFrame =
    packSequences(df, idCol, tokenCol, budget, shards, salt)
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol).cast("long")).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(idCol).as("i"),
              col(textCol).as("t")))),
            s => s.getField("t")),
          sep).as("packed_text"))

  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    budget: Long, shards: Int = 1024,
                    salt: String = "pack"): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("shard", hashBucket(col(idCol), salt, shards))
      .withColumn("_start",
        coalesce(sum(col(tokenCol).cast("long")).over(w), lit(0L)))
      .withColumn("bin", (col("_start") / budget).cast("long"))
      .withColumn("bin_offset", col("_start") % budget)
      .drop("_start")
  }
}
