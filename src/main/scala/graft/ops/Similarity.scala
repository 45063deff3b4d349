package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.NativeFunctions.{dotF, lshBuckets, nearestCells}

/** Approximate / exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design: the probe set is assumed small relative to the corpus and
  * is broadcast, so the corpus is scanned exactly once with no shuffle of
  * the big side; top-k is a per-probe window over the scored pairs. The IVF
  * variant prunes the scan to the probe's cluster(s), turning a full scan
  * into a partition-pruned one — at 100 TB the corpus would be written
  * partitioned by cluster id so pruning happens at the file level.
  *
  * Ranking ties: row_number over cosine rounded to 6 decimals with the
  * candidate id as tie-break, so ranks are reproducible across engines and
  * partitionings (raw double ordering would make rank depend on sub-ulp
  * noise).
  */
object Similarity {

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_r").desc, col("cand_id").asc)
    scored.withColumn("cos_r", round(col("cos"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("cand_id"),
        round(col("cos"), 4).as("cos"), col("rank"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** id/embedding/precomputed-norm projection: norms are computed once per
    * row (one native dot per vector) instead of once per scored pair —
    * at 1M corpus × 1k probes that's 1M norm evaluations instead of 1B.
    */
  private def withNorm(df: DataFrame, prefix: String,
                       extra: Seq[(String, String)] = Nil): DataFrame =
    df.select((Seq(col("vec_id").as(s"${prefix}_id"), col("embedding").as(s"${prefix}_emb"))
        ++ extra.map { case (c, a) => col(c).as(a) }): _*)
      .withColumn(s"${prefix}_norm",
        sqrt(dotF(col(s"${prefix}_emb"), col(s"${prefix}_emb"))))

  private def cosFromNorms(prefix1: String, prefix2: String) = {
    val nn = col(s"${prefix1}_norm") * col(s"${prefix2}_norm")
    when(nn === 0.0, lit(null))
      .otherwise(dotF(col(s"${prefix1}_emb"), col(s"${prefix2}_emb")) / nn)
  }

  /** The top-k entry points broadcast the probe side — a mistakenly
    * corpus-sized probe set would OOM every executor, so the broadcast is
    * gated the same way [[deltaNearDupPairs]] gates its delta: one cheap
    * count of the SMALL side (skipped when the caller passes `probeRows`
    * from an ingest manifest / prior count), failing loudly over
    * `maxBroadcastProbes`. Top-k against a huge probe set is a different
    * algorithm (bucketed candidates, e.g. [[lshCosinePairs]] /
    * [[deltaNearDupPairs]]'s LSH route), not a bigger broadcast.
    * Default matches [[DefaultMaxBroadcastDelta]] — it is the same
    * vectors-plus-norm broadcast shape, and at production dims (1024
    * floats) even 100k rows is already ~400 MB.
    */
  val DefaultMaxBroadcastProbes: Long = 100000L

  private def gateProbes(probes: DataFrame, probeRows: Option[Long],
                         max: Long, caller: String): Unit = {
    val n = probeRows.getOrElse(probes.count())
    require(n <= max, s"$caller: probe side has $n rows > maxBroadcastProbes " +
      s"$max — broadcasting it would OOM executors; use an LSH/bucketed " +
      "pairing (deltaNearDupPairs, lshCosinePairs) for corpus-sized sides " +
      "or raise the gate deliberately")
  }

  /** Exact brute-force cosine top-k: every probe row scored against every
    * corpus row; corpus never shuffles (probes broadcast, size-gated).
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                     maxBroadcastProbes: Long = DefaultMaxBroadcastProbes,
                     probeRows: Option[Long] = None): DataFrame = {
    gateProbes(probes, probeRows, maxBroadcastProbes, "bruteForceTopK")
    val p = withNorm(probes, "probe")
    val c = withNorm(corpus, "cand")
    val scored = c.join(broadcast(p), col("probe_id") =!= col("cand_id"))
      .withColumn("cos", cosFromNorms("probe", "cand"))
    topK(scored, k)
  }

  /** IVF-style top-k: only candidates in the same cluster as the probe are
    * scored. `clusterCol` is a precomputed assignment (here the corpus'
    * `label`; in production, a k-means cell id the table is partitioned by).
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, clusterCol: String, k: Int,
              maxBroadcastProbes: Long = DefaultMaxBroadcastProbes,
              probeRows: Option[Long] = None): DataFrame = {
    gateProbes(probes, probeRows, maxBroadcastProbes, "ivfTopK")
    val p = withNorm(probes, "probe", Seq(clusterCol -> "p_cluster"))
    val c = withNorm(corpus, "cand", Seq(clusterCol -> "c_cluster"))
    val scored = c.join(broadcast(p),
        col("p_cluster") === col("c_cluster") && col("probe_id") =!= col("cand_id"))
      .withColumn("cos", cosFromNorms("probe", "cand"))
    topK(scored, k)
  }

  /** Train real IVF cells: k-means over the embedding column (seeded →
    * deterministic), returning the corpus with a `cell` assignment plus
    * the fitted model so probes are assigned by the SAME centroids. This
    * is the trained version of the label-based IVF above; write the
    * result with [[writeClusteredIndex]](clusterCol = "cell") for
    * file-level pruning.
    *
    * Training fits via MLlib; the ASSIGNMENT pass goes through the
    * broadcast-fed native [[graft.functions.NearestCells]] expression
    * (same path as [[assignCells]]/[[assignCellsMulti]]) — whole-stage
    * codegen instead of MLlib's per-row predict UDF, and corpus/probe
    * assignments are mutually consistent by construction, ties included.
    */
  def kmeansCells(corpus: DataFrame, cells: Int, seed: Long = 42L,
                  maxIter: Int = 20):
      (DataFrame, org.apache.spark.ml.clustering.KMeansModel) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = corpus.withColumn("_features", array_to_vector(col("embedding")))
    val model = new KMeans().setK(cells).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("_features").setPredictionCol("cell").fit(vecs)
    (assignCells(corpus, model), model)
  }

  /** The fitted model's centroids as a broadcast for [[nearestCells]] —
    * torrent-distributed once per executor instead of inlined into the
    * plan as O(cells × dim) literals (the [[lshBuckets]] hyperplane
    * pattern; at production nlist the literal plan blows up constant
    * pools and analysis time before any data is read).
    */
  private def centroidsBc(df: DataFrame,
                          model: org.apache.spark.ml.clustering.KMeansModel) =
    df.sparkSession.sparkContext.broadcast(model.clusterCenters.map(_.toArray))

  /** Assign `df` rows to an already-trained cell model — exact
    * squared-Euclidean argmin over the broadcast centroids, ties to the
    * lower cell id, in one codegen'd pass.
    */
  def assignCells(df: DataFrame,
                  model: org.apache.spark.ml.clustering.KMeansModel): DataFrame =
    df.withColumn("cell",
      element_at(nearestCells(col("embedding"), centroidsBc(df, model), 1), 1))

  /** Assign each row its `nprobe` nearest centroids, exploded to one row
    * per (vector, cell), nearest first — the IVF recall repair: a probe
    * near a Voronoi boundary misses true neighbors in the adjacent cell,
    * and probing its `nprobe` nearest cells recovers them. Recall is
    * monotone in `nprobe` BY CONSTRUCTION: the probed cell set is a
    * prefix of the distance-sorted centroid list. Centroids ride a
    * broadcast into the native [[graft.functions.NearestCells]]
    * expression — no ML transform, no shuffle, corpus untouched, and the
    * plan stays O(1) in cell count.
    */
  def assignCellsMulti(df: DataFrame,
                       model: org.apache.spark.ml.clustering.KMeansModel,
                       nprobe: Int): DataFrame =
    df.withColumn("cell",
      explode(nearestCells(col("embedding"), centroidsBc(df, model), nprobe)))

  /** The literal-fold plan [[assignCellsMulti]] replaced, kept as the
    * bit-for-bit equality witness for the native expression: per-centroid
    * `typedLit` squared-Euclidean folds, `array_sort` on (distance, cell)
    * structs, `nprobe` prefix. O(cells × dim) plan literals — correct at
    * toy cell counts, constant-pool/analysis blowup at production nlist.
    */
  private[graft] def assignCellsMultiLiteral(df: DataFrame,
                                             centers: Array[Array[Double]],
                                             nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= centers.length,
      s"nprobe must be in [1, ${centers.length}], got $nprobe")
    val dists = centers.zipWithIndex.map { case (c, i) =>
      val diff2 = zip_with(col("embedding"), typedLit(c.toSeq),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y))
      struct(aggregate(diff2, lit(0.0), (a, v) => a + v).as("d"),
        lit(i).as("cell"))
    }
    df.withColumn("cell",
      explode(transform(slice(array_sort(array(dists: _*)), 1, nprobe),
        s => s.getField("cell"))))
  }

  /** End-to-end trained-IVF top-k: fit cells on the corpus, assign both
    * sides with the same centroids, then cell-pruned scoring. Recall is
    * the IVF approximation (a true neighbor in a different cell is
    * missed); `nprobe` scores each probe against its `nprobe` nearest
    * cells — the standard recall knob, spec-measured against
    * [[bruteForceTopK]]. A candidate holds ONE cell, so a (probe, cand)
    * pair appears at most once however many cells the probe visits.
    */
  def kmeansIvfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                    cells: Int = 16, seed: Long = 42L,
                    nprobe: Int = 1): DataFrame = {
    val (clustered, model) = kmeansCells(corpus, cells, seed)
    val assigned =
      if (nprobe == 1) assignCells(probes, model)
      else assignCellsMulti(probes, model, nprobe)
    ivfTopK(clustered, assigned, "cell", k)
  }

  /** Exact cosine pairs WITHIN a cluster cell: the candidate-generation
    * step of SemDeDup-style semantic dedup ([[Dedup.semanticDedup]]).
    * Self-join on the cell id (one shuffle on `cellCol`, never all-pairs
    * across cells), `a_id < b_id`, exact cosine ≥ `threshold` — so the
    * within-cell pair space is the ONLY quadratic term, and it is bounded
    * by cell occupancy: size `cells` so occupancy stays O(corpus/cells)
    * rows (SemDeDup's trade — a dup pair split across cells is missed;
    * recall is bought with k-means locality, precision is exact).
    * A skewed giant cell re-inflates the quadratic term — at scale,
    * raise `cells` (occupancy is corpus/cells on k-means-balanced data)
    * rather than capping here, since a cap would silently drop dups.
    */
  def cellCosinePairs(df: DataFrame, idCol: String, embCol: String,
                      cellCol: String, threshold: Double): DataFrame = {
    val base = df.select(col(idCol).as("vec_id"), col(embCol).as("embedding"),
      col(cellCol).as("_cell"))
    val a = withNorm(base, "a", Seq("_cell" -> "_ca"))
    val b = withNorm(base, "b", Seq("_cell" -> "_cb"))
    a.join(b, col("_ca") === col("_cb") && col("a_id") < col("b_id"))
      .withColumn("cos", cosFromNorms("a", "b"))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
  }

  /** Persist the corpus partitioned by cluster id — the on-disk IVF
    * layout. With this layout, `ivfTopK` over the read-back frame prunes
    * at the FILE level: the broadcast probe side's clusters drive dynamic
    * partition pruning, so only the probes' cells are ever scanned. At
    * 100 TB that's the difference between a full-corpus scan and reading
    * a handful of cells.
    */
  def writeClusteredIndex(corpus: DataFrame, dir: String,
                          clusterCol: String = "label"): Unit =
    corpus.write.mode("overwrite").partitionBy(clusterCol).parquet(dir)

  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                     probes: DataFrame, k: Int,
                     clusterCol: String = "label",
                     probeRows: Option[Long] = None): DataFrame =
    ivfTopK(clusteredStore(spark, dir).hide(spark.read.parquet(dir)),
      probes, clusterCol, k, probeRows = probeRows)

  /** The IVF-clustered family's [[IndexStore]] at path grain: key
    * `vec_id`, tombstones at a SIBLING path (`<dir>_tombstones`) — a
    * foreign subdir INSIDE the hive-partitioned layout would break
    * partition discovery.
    */
  private[graft] def clusteredStore(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): IndexStore =
    IndexStore(spark, "vec_id", s"${dir.stripSuffix("/")}_tombstones",
      dataDir = Some(dir))

  /** Forget vectors FROM the persisted IVF layout — unlike the PQ
    * codes, this index stores the RAW embeddings (the most direct
    * personal-data derivative of all the persisted artifacts), so a
    * GDPR delete must reach it first. Same tombstone protocol as
    * [[graft.ops.Pq.vacuumPqIndex]]: forget ids append to the sibling
    * tombstones path (~deleted-ids write cost; the cell-partitioned
    * files stay byte-identical), every [[ivfTopKIndexed]] read hides
    * them via a broadcast anti-join ABOVE the partition-pruned scan,
    * and the physical scrub batches into [[compactClusteredIndex]].
    * Returns the VISIBLE indexed vectors tombstoned.
    */
  def vacuumClusteredIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String, ids: DataFrame): Long =
    clusteredStore(spark, dir).vacuum(ids,
      spark.read.parquet(dir).select("vec_id"))

  /** Physically scrub tombstoned vectors — targeted file-pruned rewrite
    * via [[graft.core.io.Maintenance.deleteMatching]] (only the cell
    * partitions holding a forgotten vector are touched; its manifest
    * protocol owns crash recovery), then the tombstones drop. Returns
    * the vectors physically scrubbed.
    */
  def compactClusteredIndex(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Long =
    clusteredStore(spark, dir).compact()

  /** Deterministic random hyperplanes for sign-bit LSH: `tables` hash
    * tables of `bits` planes each, seeded — same seed, same planes, on
    * every executor and every rerun.
    */
  def hyperplanes(dim: Int, bits: Int, tables: Int, seed: Long): Array[Array[Array[Float]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(rnd.nextGaussian().toFloat)
  }

  /** Random-projection (SimHash-for-vectors) LSH near-dup pairs: each
    * vector hashes to one `bits`-bit bucket per table (sign of the dot
    * with each hyperplane); only same-bucket pairs are scored. The
    * self-join shuffles on (table, bucket) — the all-pairs space is never
    * materialized, and the output is verified with exact cosine so every
    * reported pair is a true positive (recall, not precision, is the
    * approximation). Collision probability per bit is 1 - angle/pi, so
    * recall tunes with bits/tables.
    *
    * SIZE `bits` WITH THE CORPUS: within-bucket candidate pairs grow
    * quadratically in bucket occupancy (n / 2^bits per table), so hold
    * occupancy at O(100) rows — bits ≈ log2(n/100); recall lost to
    * narrower buckets is bought back with more tables. `bits = 0` (the
    * default) sizes automatically from a corpus count — at a 10⁶-vector
    * corpus that is ~13 bits where a fixed small default would be a
    * quadratic blowup.
    */
  /** (vec_id, t, bucket) sign-bit LSH bucket table — ids only, embeddings
    * are not replicated per hash table. The planes ride a BROADCAST into
    * the native [[graft.functions.LshBuckets]] expression (all tables
    * hashed in one pass per row) rather than being inlined as `lit()`
    * arrays — at production dims (1024 × 13 bits × 16 tables ≈ 200k
    * literals) the literal plan blows up analysis and codegen before any
    * data is read.
    */
  private def bucketTable(df: DataFrame,
                          planes: Broadcast[Array[Array[Array[Float]]]]): DataFrame =
    df.select(col("vec_id"),
        posexplode(lshBuckets(col("embedding"), planes)))
      .toDF("vec_id", "t", "bucket")

  /** Exact-cosine verification of an (a_id, b_id) candidate set: vectors
    * join back in once per candidate; every reported pair is a true
    * positive.
    */
  private def verifyCosine(cand: DataFrame, aVecs: DataFrame, bVecs: DataFrame,
                           threshold: Double): DataFrame = {
    val aSide = withNorm(aVecs, "av")
    val bSide = withNorm(bVecs, "bv")
    cand.join(aSide, col("a_id") === col("av_id")).join(bSide, col("b_id") === col("bv_id"))
      .withColumn("cos", cosFromNorms("av", "bv"))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
      .orderBy("a_id", "b_id")
  }

  /** Vector width for plane generation: taken from `dim` when the caller
    * knows it (no job), else probed with one driver-side head() — the
    * schema's ArrayType carries no length.
    */
  private def dimOf(corpus: DataFrame, dim: Option[Int]): Int =
    dim.getOrElse(corpus.select(size(col("embedding"))).head().getInt(0))

  /** Bucket bits for ~100-row occupancy, floored at 4. */
  def autoBits(corpusRows: Long): Int =
    math.max(4, math.ceil(
      math.log(math.max(1.0, corpusRows / 100.0)) / math.log(2.0)).toInt)

  private def bitsOf(corpus: DataFrame, bits: Int): Int =
    if (bits > 0) bits else autoBits(corpus.count())

  def lshCosinePairs(corpus: DataFrame, threshold: Double,
                     bits: Int = 0, tables: Int = 16, seed: Long = 42L,
                     dim: Option[Int] = None): DataFrame = {
    val b = bitsOf(corpus, bits)
    val planes = corpus.sparkSession.sparkContext.broadcast(
      hyperplanes(dimOf(corpus, dim), b, tables, seed))
    val hashed = bucketTable(corpus, planes)
    val cand = hashed.as("x").join(hashed.as("y"), Seq("t", "bucket"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    verifyCosine(cand, corpus, corpus, threshold)
  }

  /** Cosine near-duplicate pairs above `threshold` within a probe subset
    * (`probeModulo` keeps the left side small; at scale the left side is
    * the newly-ingested delta, not a modulo sample). Delegates to
    * [[deltaNearDupPairs]], which gates the broadcast plan on delta size.
    */
  def cosineNearDupPairs(corpus: DataFrame, probeModulo: Int, threshold: Double,
                         maxBroadcastDelta: Long = DefaultMaxBroadcastDelta): DataFrame =
    deltaNearDupPairs(corpus, corpus.filter(col("vec_id") % probeModulo === 0),
      threshold, maxBroadcastDelta)

  /** Above this many delta rows the broadcast-nested-loop plan stops being
    * viable (the broadcast side no longer fits executor memory and the
    * probe×corpus score count is quadratic-ish) — route through LSH
    * buckets instead. ~100k 64-dim float vectors ≈ 30 MB broadcast.
    */
  val DefaultMaxBroadcastDelta: Long = 100000L

  /** Near-dup pairs between a delta set and the corpus.
    *
    * Small delta (≤ `maxBroadcastDelta` rows): exact — the delta is
    * broadcast and every corpus row is scored against every delta row; one
    * corpus scan, no shuffle. Large delta: the broadcast plan would be a
    * memory-unbounded nested loop, so candidates come from sign-bit LSH
    * buckets (shuffle on (table, bucket)) and are exact-cosine verified —
    * precision stays exact, recall becomes the LSH collision probability;
    * the switch is logged because it changes the exactness contract.
    * The size gate runs one count() over the delta; at scale that's a
    * metadata-cheap scan of the small side, not the corpus — and a caller
    * that already knows the delta size (an ingest manifest, a previous
    * count) can pass it as `deltaRows` and the gate runs NO job at all.
    * The LSH branch additionally needs the CORPUS row count (to size the
    * bucket bits) and the vector width when `bits`/`dim` are left to
    * auto-size — pass `corpusRows`/`dim` to keep that branch free of
    * corpus-wide driver actions too.
    *
    * `deltaInCorpus = true` (the modulo-sample / re-scan case) pairs on
    * `a_id < b_id`: a pair is reported iff its DELTA member has the lower
    * id (two delta members report once; a delta doc similar to a
    * lower-id non-delta doc is NOT reported — this matches the q31
    * oracle's contract and keeps sample scans duplicate-free). Set it
    * FALSE for a disjoint delta (newly-ingested ids vs an existing
    * corpus), where delta ids are typically HIGHER than every corpus id
    * and the ordering filter would drop everything — disjoint mode pairs
    * on `a_id =!= b_id`, delta id always on the left, full delta×corpus
    * coverage.
    */
  def deltaNearDupPairs(corpus: DataFrame, delta: DataFrame, threshold: Double,
                        maxBroadcastDelta: Long = DefaultMaxBroadcastDelta,
                        bits: Int = 0, tables: Int = 16, seed: Long = 42L,
                        deltaInCorpus: Boolean = true,
                        dim: Option[Int] = None,
                        deltaRows: Option[Long] = None,
                        corpusRows: Option[Long] = None): DataFrame = {
    val pairCond =
      if (deltaInCorpus) col("a_id") < col("b_id") else col("a_id") =!= col("b_id")
    if (deltaRows.getOrElse(delta.count()) <= maxBroadcastDelta) {
      val a = withNorm(delta, "a")
      val b = withNorm(corpus, "b")
      b.join(broadcast(a), pairCond)
        .withColumn("cos", cosFromNorms("a", "b"))
        .filter(col("cos") >= threshold)
        .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
        .orderBy("a_id", "b_id")
    } else {
      System.err.println(s"[graft] deltaNearDupPairs: delta exceeds " +
        s"$maxBroadcastDelta rows; switching from exact broadcast scoring to " +
        s"LSH-bucketed candidates (exact precision, approximate recall)")
      val b =
        if (bits > 0) bits
        else autoBits(corpusRows.getOrElse(corpus.count()))
      val planes = corpus.sparkSession.sparkContext.broadcast(
        hyperplanes(dimOf(corpus, dim), b, tables, seed))
      val hp = bucketTable(delta, planes).withColumnRenamed("vec_id", "a_id")
      val hc = bucketTable(corpus, planes).withColumnRenamed("vec_id", "b_id")
      val cand = hp.join(hc, Seq("t", "bucket"))
        .filter(pairCond)
        .select("a_id", "b_id").distinct()
      verifyCosine(cand, delta, corpus, threshold)
    }
  }

  /** Embedding-cosine decontamination — the SEMANTIC member of the
    * decontamination family ([[graft.ops.TextAnalysis.decontaminate]]
    * exact / bloom / fuzzy are lexical): drop every corpus row whose
    * embedding is within `threshold` cosine of ANY eval-set embedding,
    * catching paraphrased or re-tokenized test leakage that no n-gram
    * overlap sees. Pairing rides [[deltaNearDupPairs]] with the eval
    * set as the delta: below `maxBroadcastEval` rows the eval side
    * broadcasts for EXACT scoring (an eval benchmark is thousands of
    * rows — the normal case, one corpus scan, no shuffle); above it
    * the LSH-bucketed path takes over (exact precision, approximate
    * recall, the documented trade). The corpus embedding column is
    * read once; survivors keep ALL their columns via one anti-join on
    * the contaminated-id set.
    */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, embCol: String,
                            evalSet: DataFrame, evalIdCol: String,
                            evalEmbCol: String, threshold: Double,
                            maxBroadcastEval: Long = DefaultMaxBroadcastDelta,
                            evalRows: Option[Long] = None,
                            corpusRows: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]: $threshold")
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    val ev = evalSet.select(col(evalIdCol).as("vec_id"),
      col(evalEmbCol).as("embedding"))
    val hits = deltaNearDupPairs(c, ev, threshold,
        maxBroadcastDelta = maxBroadcastEval, deltaInCorpus = false,
        deltaRows = evalRows, corpusRows = corpusRows)
      .select(col("b_id").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Per-label embedding-centroid drift between two snapshots — the
    * embedding-space member of the drift family ([[graft.ops.Stats
    * .psi]] / `ksStatistic` watch scalar columns; an embedding corpus
    * drifts when a label's MASS MOVES in vector space, e.g. a topic's
    * content shifting under a re-crawl): per label, the cosine between
    * the reference and current mean vectors, plus the count shift.
    *
    * Determinism discipline: components quantize to micro-int longs at
    * the ROW grain, so the per-(label, dimension) sums are order-free
    * integer arithmetic; each label's mean vectors assemble in
    * dimension order and the final cosine is one left-to-right ordered
    * fold over exact inputs ([[graft.functions.VectorFunctions]]'
    * engine-pinned convention). One (label, dim)-grain contraction is
    * the only corpus-sized shuffle; everything after runs at label
    * grain.
    *
    * Output: `(label, n_ref, n_cur, centroid_cos_micro)` — labels
    * absent from one side report null cosine (pure arrival/departure,
    * the count columns carry the signal).
    */
  def embeddingDrift(reference: DataFrame, current: DataFrame,
                     labelCol: String, embCol: String): DataFrame = {
    def sums(df: DataFrame, nAs: String, arrAs: String) = {
      val comp = df
        .select(col(labelCol).as("label"),
          posexplode(col(embCol)).as(Seq("_i", "_x")))
        .withColumn("_q",
          round(col("_x").cast("double") * lit(1e6), 0).cast("long"))
        .groupBy("label", "_i").agg(sum("_q").as("_s"))
      val n = df.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as(nAs))
      comp.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("_i"), col("_s")))),
          s => s.getField("_s")).as(arrAs))
        .join(n, "label")
    }
    val r = sums(reference, "n_ref", "_ra")
    val c = sums(current, "n_cur", "_ca")
    val joined = r.join(c, Seq("label"), "full_outer")
    val meanR = transform(col("_ra"),
      s => s.cast("double") / col("n_ref") / lit(1e6))
    val meanC = transform(col("_ca"),
      s => s.cast("double") / col("n_cur") / lit(1e6))
    def dot(a: Column, b: Column) = aggregate(
      zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val cosine = dot(meanR, meanC) /
      (sqrt(dot(meanR, meanR)) * sqrt(dot(meanC, meanC)))
    joined.select(col("label"),
      coalesce(col("n_ref"), lit(0L)).as("n_ref"),
      coalesce(col("n_cur"), lit(0L)).as("n_cur"),
      when(col("_ra").isNotNull && col("_ca").isNotNull,
        round(round(cosine, 6) * lit(1e6), 0).cast("long"))
        .as("centroid_cos_micro"))
  }

  /** Symmetric int8 vector quantization: per-vector `scale = max|x|/127`,
    * `qvec[i] = round(x[i]/scale)` — 4× smaller storage (int8 + one
    * double) for embedding corpora where the scan, not the math, is the
    * 100 TB bottleneck. Dequantize is `qvec[i] * scale`; `recon_err` (the
    * L2 reconstruction error) is carried per row so a pipeline can gate
    * on quantization loss. Zero vectors quantize to zeros with scale 0.
    *
    * Everything is codegen'd higher-order functions over the array —
    * ordered folds ([[graft.functions.VectorFunctions]] convention), so
    * outputs are bit-stable across partitionings and engines. One narrow
    * pass, no shuffle.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scaled = df.select(col(idCol), col(vecCol))
      .withColumn("_scale",
        array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0))
    val qvec = when(col("_scale") === 0.0,
        transform(col(vecCol), _ => lit(0)))
      .otherwise(transform(col(vecCol),
        x => round(x.cast("double") / col("_scale")).cast("int")))
    scaled.withColumn("qvec", qvec)
      .withColumn("recon_err", round(sqrt(aggregate(
        zip_with(col(vecCol), col("qvec"), (x, qv) => {
          val d = x.cast("double") - qv.cast("double") * col("_scale")
          d * d
        }),
        lit(0.0), (acc, v) => acc + v)), 6))
      .select(col(idCol), round(col("_scale"), 8).as("scale"),
        col("qvec"), col("recon_err"))
  }

  /** Retrieval-quality evaluation of an APPROXIMATE ranking against the
    * exact ground truth — the recall@k / reciprocal-rank harness that
    * turns "IVF with nprobe=2" from a guess into a measured trade-off
    * before it ships. Both inputs are ranked result sets
    * `(queryCol, itemCol, rankCol)` (the [[bruteForceTopK]] /
    * [[ivfTopK]] output shape).
    *
    * Per query: `n_exact` ground-truth items, `n_hit` of them retrieved,
    * `recall_micro = n_hit / n_exact`, and `rr_micro = 1 / rank` of the
    * FIRST retrieved ground-truth item in the approximate ranking (0
    * when none hit) — micro-quantized, so means taken downstream are
    * order-free integer sums. Queries absent from `approx` (nothing
    * retrieved) still report, with zeros.
    *
    * Scale shape: both sides are k·|queries| rows — the evaluation
    * never touches the corpus; two small equi-joins and a group-by.
    */
  def retrievalEval(approx: DataFrame, exact: DataFrame,
                    queryCol: String = "probe_id",
                    itemCol: String = "cand_id",
                    rankCol: String = "rank"): DataFrame = {
    val micro = (c: Column) =>
      round(round(c, 6) * lit(1e6), 0).cast("long")
    val ex = exact.select(col(queryCol).as("_q"), col(itemCol).as("_i"))
    val exN = ex.groupBy("_q").agg(count(lit(1)).as("n_exact"))
    val hits = approx
      .select(col(queryCol).as("_q"), col(itemCol).as("_i"),
        col(rankCol).as("_r"))
      .join(ex, Seq("_q", "_i"))
      .groupBy("_q")
      .agg(count(lit(1)).as("_nh"), min("_r").as("_first"))
    exN.join(hits, Seq("_q"), "left")
      .select(col("_q").as(queryCol), col("n_exact"),
        coalesce(col("_nh"), lit(0L)).as("n_hit"),
        micro(coalesce(col("_nh"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall_micro"),
        coalesce(micro(lit(1.0) / col("_first")), lit(0L)).as("rr_micro"))
  }

  /** One-row macro summary of [[retrievalEval]]: query count and mean
    * recall/RR — exact integer sums of the micro columns, one division
    * each at the edge.
    */
  def retrievalEvalSummary(eval_ : DataFrame): DataFrame =
    eval_.agg(count(lit(1)).as("n_queries"),
        sum("recall_micro").as("_sr"), sum("rr_micro").as("_sm"))
      .select(col("n_queries"),
        round(col("_sr").cast("double") / col("n_queries"), 0).cast("long")
          .as("mean_recall_micro"),
        round(col("_sm").cast("double") / col("n_queries"), 0).cast("long")
          .as("mean_rr_micro"))

  /** Per-label embedding outlier flags — the mislabeled/noise detector
    * for an embedding corpus: a vector far from its own label's
    * centroid (Euclidean distance beyond `z` standard deviations of the
    * label's distance distribution) is flagged for review before it
    * poisons a training mix or an IVF index.
    *
    * Exact-arithmetic pipeline, so the flag set is engine-replayable:
    * elements quantize to micro-units, centroids are ONE division over
    * exact BIGINT element sums (then re-quantized), squared distances
    * are order-free BIGINT sums of integer diffs, per-label moments use
    * decimal accumulators (the [[Stats.profile]] convention), and the
    * comparison is BIGINT vs BIGINT.
    *
    * Scale shape: the element grid is a row-local posexplode (map-side
    * combined straight into the tiny (label, pos) centroid aggregate);
    * the distance aggregation is the ONE corpus shuffle (64 elements of
    * a row collapse map-side before it); label stats and thresholds are
    * |labels| rows riding a broadcast join back.
    *
    * Output: `(idCol, labelCol, dist_micro, thr_micro, is_outlier)`.
    */
  def embeddingOutliers(emb: DataFrame, idCol: String, embCol: String,
                        labelCol: String, z: Double = 2.0): DataFrame = {
    require(z >= 0, s"z must be >= 0: $z")
    val el = emb.select(col(idCol).as("_id"), col(labelCol).as("_lbl"),
        posexplode(col(embCol)).as(Seq("_pos", "_x")))
      .withColumn("_xm",
        round(round(col("_x").cast("double"), 6) * lit(1e6), 0).cast("long"))
    val cent = el.groupBy("_lbl", "_pos")
      .agg(sum("_xm").as("_sx"), count(lit(1)).as("_n"))
      .withColumn("_cm",
        round(col("_sx").cast("double") / col("_n"), 0).cast("long"))
      .select("_lbl", "_pos", "_cm")
    val dist = el.join(broadcast(cent), Seq("_lbl", "_pos"))
      .withColumn("_d", col("_xm") - col("_cm"))
      .groupBy("_id", "_lbl")
      .agg(sum(col("_d") * col("_d")).as("_d2"))
      .withColumn("dist_micro", round(sqrt(col("_d2")), 0).cast("long"))
    val dm19 = col("dist_micro").cast("decimal(19,0)")
    val thr = dist.groupBy("_lbl")
      .agg(count(lit(1)).as("_cnt"),
        sum(col("dist_micro").cast("decimal(38,0)")).as("_s"),
        sum(dm19 * dm19).as("_s2"))
      .withColumn("_mean", col("_s").cast("double") / col("_cnt"))
      .withColumn("_std", sqrt(col("_s2").cast("double") / col("_cnt") -
        col("_mean") * col("_mean")))
      .withColumn("thr_micro",
        round(col("_mean") + lit(z) * col("_std"), 0).cast("long"))
      .select("_lbl", "thr_micro")
    dist.join(broadcast(thr), "_lbl")
      .select(col("_id").as(idCol), col("_lbl").as(labelCol),
        col("dist_micro"), col("thr_micro"),
        (col("dist_micro") > col("thr_micro")).as("is_outlier"))
  }
}
