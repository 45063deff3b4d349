package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.io.CrashSeam
import graft.functions.NativeFunctions.nearestCells

/** Product quantization for billion-scale ANN (Jégou et al. 2011,
  * "Product Quantization for Nearest Neighbor Search"): the embedding is
  * split into `m` subvectors, each quantized to one of `k` per-subspace
  * centroids, so a vector stores as `m` small codes (m bytes at k=256 —
  * a 256× compression of a 1024-float embedding) and approximate
  * distance needs only table lookups, never the original floats.
  *
  * Scale design mirrors the IVF split in [[Similarity]]:
  *  - TRAINING (`trainPqCodebooks`) is m seeded MLlib k-means fits — run
  *    once, on a sample; the codebook is m·k tiny rows.
  *  - ENCODING (`encodePq`) is one codegen'd pass: per subspace, the
  *    broadcast-fed native [[graft.functions.NearestCells]] expression
  *    over the sliced embedding — no MLlib transform, no shuffle, plan
  *    size O(m), not O(m·k·dim).
  *  - SEARCH (`adcTopK`) is asymmetric distance computation: each
  *    probe's m·k-entry distance-to-centroid table rides a broadcast
  *    join against the candidates' exploded codes; the corpus' floats
  *    are never read. Per-subspace distances are micro-unit quantized
  *    longs (the [[Dsir]] convention), so the summed ADC distance is
  *    exact integer arithmetic — reproducible across engines, and rank
  *    ties break on candidate id.
  *
  * The reference has no vector ops at all; this extends the SURVEY §2
  * similarity-search family (q29/q58/q92) with the quantized tier a
  * 100 TB corpus actually serves from.
  */
object Pq {

  /** Most sub-space k-means fits [[trainPqCodebooks]] runs at once. */
  private val TrainParallelism = 8

  /** Train the m per-subspace codebooks: seeded k-means on each
    * `dim/m`-wide slice. Returns `(sub, code, centroid)` with
    * `array<float>` centroids — m·k rows, a model table. Train on a
    * corpus SAMPLE at scale (the codebook needs distribution coverage,
    * not the full corpus).
    */
  def trainPqCodebooks(corpus: DataFrame, embCol: String = "embedding",
                       m: Int = 8, k: Int = 16, seed: Long = 42L,
                       maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = corpus.select(size(col(embCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    // the m fits are independent (each its own slice + seed), and each
    // is a chain of TINY jobs whose cost is driver/scheduling latency,
    // not compute — run them concurrently and the wall time collapses
    // toward the slowest single fit. Output is bit-identical: per-sub
    // seed and input are unchanged, and the scheduler interleaving
    // cannot affect a fit's arithmetic.
    // Bounded dedicated pool ([[TrainParallelism]]): m is small by
    // construction (dim / subDim), but a wide caller must not pile m
    // concurrent Spark jobs onto the process-global pool.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val poolSize = math.max(1, math.min(m, TrainParallelism))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val perSub = try Await.result(Future.sequence((0 until m).map { s =>
      Future {
        val slices = corpus.select(
          array_to_vector(slice(col(embCol), s * subDim + 1, subDim))
            .as("_features"))
        val model = new KMeans().setK(k).setSeed(seed + s)
          .setMaxIter(maxIter)
          .setFeaturesCol("_features").setPredictionCol("_c").fit(slices)
        model.clusterCenters.zipWithIndex.map { case (c, i) =>
          (s, i, c.toArray.map(_.toFloat).toSeq)
        }.toSeq
      }
    }), Duration.Inf)
    finally pool.shutdown()
    perSub.flatten.toDF("sub", "code", "centroid")
  }

  /** The codebook as driver arrays `[sub][code][subDim]` for the encode
    * broadcasts — m·k rows, a model-sized collect like
    * [[Similarity.kmeansCells]]' centroid broadcast.
    */
  def codebookArrays(codebook: DataFrame): Array[Array[Array[Double]]] = {
    val rows = codebook.select("sub", "code", "centroid").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val arr = Array.ofDim[Array[Array[Double]]](m)
    rows.groupBy(_.getInt(0)).foreach { case (s, rs) =>
      arr(s) = rs.sortBy(_.getInt(1))
        .map(_.getSeq[Float](2).map(_.toDouble).toArray).toArray
    }
    arr
  }

  /** Encode each row's embedding as its `m` nearest-centroid codes
    * (`codes: array<int>`): per subspace one broadcast-fed
    * [[graft.functions.NearestCells]] over the slice — exact
    * squared-Euclidean argmin, ties to the lower code, all codegen'd.
    */
  def encodePq(df: DataFrame, embCol: String,
               cb: Array[Array[Array[Double]]]): DataFrame = {
    val m = cb.length
    val subDim = cb(0)(0).length
    val sc = df.sparkSession.sparkContext
    val codeCols = (0 until m).map { s =>
      val bc = sc.broadcast(cb(s))
      element_at(
        nearestCells(slice(col(embCol), s * subDim + 1, subDim), bc, 1), 1)
    }
    df.withColumn("codes", array(codeCols: _*))
  }

  /** Micro-unit quantized squared-L2 between a float-array slice and a
    * float-array centroid (exact long; fold order is fixed left-to-right
    * in both Spark's `aggregate` and DuckDB's `list_sum`).
    */
  private def sliceDistMicro(emb: Column, centroid: Column): Column =
    round(round(aggregate(zip_with(emb, centroid,
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (a, v) => a + v), 6) * lit(1e6), 0).cast("long")

  /** Asymmetric-distance top-k: probes carry their full embedding,
    * candidates only their codes (and a `cell` for IVF pruning). Each
    * probe's (sub, code) distance table is built once against the
    * broadcast codebook; candidates join it on (cell, sub, code) and
    * aggregate the m exact per-subspace terms. The corpus embedding
    * column is never touched — the point of PQ.
    */
  def adcTopK(candCodes: DataFrame, probes: DataFrame, codebook: DataFrame,
              topk: Int): DataFrame = {
    val subDim = codebook.select(size(col("centroid"))).head().getInt(0)
    val tables = probes.crossJoin(broadcast(codebook))
      .select(col("probe_id"), col("cell"), col("sub"), col("code"),
        sliceDistMicro(
          slice(col("embedding"), col("sub") * subDim + 1, lit(subDim)),
          col("centroid")).as("d_micro"))
    val candLong = candCodes.select(col("cand_id"), col("cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    val scored = candLong.join(broadcast(tables), Seq("cell", "sub", "code"))
      .filter(col("probe_id") =!= col("cand_id"))
      .groupBy("probe_id", "cand_id")
      .agg(sum("d_micro").as("adc_micro"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("adc_micro").asc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topk)
      .orderBy("probe_id", "rank")
  }

  /** Fused ADC top-k — the scale path. Same semantics as [[adcTopK]],
    * different plan: the per-probe distance table is built by the native
    * [[graft.functions.PqDistTables]] expression as a COLUMN on the
    * broadcast probe side (quantized with the same Catalyst `round`, so
    * outputs are bit-identical — spec-pinned), and each (probe, cand)
    * pair scores with m table lookups in one codegen'd `aggregate` —
    * no (cell, sub, code) join, no m-row code explosion, no aggregation
    * shuffle. Per pair the work is m array reads instead of m joined
    * rows through a hash aggregate; the only shuffle left is the
    * per-probe top-k window.
    */
  def adcTopKFused(candCodes: DataFrame, probes: DataFrame,
                   cb: Array[Array[Array[Double]]], topk: Int): DataFrame = {
    val bc = probes.sparkSession.sparkContext.broadcast(cb)
    val tables = transform(
      graft.functions.NativeFunctions.pqDistTables(col("embedding"), bc),
      r => transform(r, d => round(round(d, 6) * lit(1e6), 0).cast("long")))
    val p = probes.select(col("probe_id"), col("cell"), tables.as("_tables"))
    val scored = candCodes.join(broadcast(p), "cell")
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("adc_micro",
        graft.functions.NativeFunctions.pqAdcScore(col("_tables"), col("codes")))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("adc_micro").asc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topk)
      .select("probe_id", "cand_id", "adc_micro", "rank")
      .orderBy("probe_id", "rank")
  }

  /** Persist the IVF-PQ serving artifacts — the steady-state layout a
    * 100 TB embedding corpus actually queries from: the trained
    * codebook and IVF centroids (model tables, tiny), and the corpus
    * CODES partitioned by cell (the only corpus-sized table — m small
    * ints per vector, the 100-200× compression that makes the quantized
    * tier scan-cheap; the float embeddings never need to be read again
    * for search). Query-time cell pruning is FILE-level: the probe
    * side's cells drive dynamic partition pruning on the codes
    * partitioning, the [[Similarity.writeClusteredIndex]] discipline.
    *
    * Training runs on the `vec_id % trainSampleMod == 0` sample
    * (codebooks need distribution coverage, not the corpus); encoding
    * runs on everything through the broadcast-fed native expressions.
    */
  def writePqIndex(corpus: DataFrame, dir: String, m: Int = 4, k: Int = 16,
                   cells: Int = 16, seed: Long = 42L,
                   trainSampleMod: Int = 4): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.filter(pmod(col("vec_id"), lit(trainSampleMod)) === 0)
    val (_, model) = Similarity.kmeansCells(sample, cells, seed)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    trainPqCodebooks(sample, "embedding", m, k, seed)
      .write.mode("overwrite").parquet(s"$dir/codebook")
    val cb = codebookArrays(spark.read.parquet(s"$dir/codebook"))
    encodePq(Similarity.assignCells(corpus, model), "embedding", cb)
      .select(col("vec_id").as("cand_id"), col("cell"), col("codes"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    Seq((m, k, cells)).toDF("m", "k", "cells")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The PQ family's [[IndexStore]] at path grain: key `cand_id`, the
    * cell-partitioned `$dir/codes`, tombstones in a parquet dir beside
    * them (`$dir/tombstones`). The read filter is a broadcast anti-join
    * AFTER the cell-pruned scan, so file-level partition pruning
    * survives a vacuum.
    */
  private[graft] def pqStore(spark: org.apache.spark.sql.SparkSession,
                             dir: String): IndexStore =
    IndexStore(spark, "cand_id", s"$dir/tombstones",
      dataDir = Some(s"$dir/codes"))

  /** Forget vectors FROM the persisted PQ index — PQ codes are a lossy
    * but real derivative of the embedding (ADC reconstructs approximate
    * geometry), so a GDPR delete must reach them. Tombstone-first: the
    * forget ids append to `$dir/tombstones` (write cost ~deleted-ids;
    * the cell-partitioned codes files stay byte-identical), every read
    * hides them via broadcast anti-join, and the physical scrub batches
    * into [[compactPqIndex]]. Returns the VISIBLE indexed vectors
    * tombstoned.
    */
  def vacuumPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    ids: DataFrame): Long =
    pqStore(spark, dir).vacuum(ids,
      spark.read.parquet(s"$dir/codes").select("cand_id"))

  /** Physically scrub tombstoned vectors from the codes layout — a
    * targeted, file-pruned rewrite via [[graft.core.io.Maintenance
    * .deleteMatching]] (only the cell partitions that actually hold a
    * forgotten vector are touched; its manifest protocol owns crash
    * recovery), then the tombstones drop. A crash between the two
    * re-runs as a no-op delete; reads stay correct at every point
    * (rows gone + tombstones present just anti-joins nothing).
    * Returns the vectors physically scrubbed.
    */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Long =
    pqStore(spark, dir).compact()

  /** The stored centroids as the ordered array [[graft.functions
    * .NativeFunctions.nearestCells]] broadcasts — cell id is the array
    * index, so the order is read back from the table, never assumed.
    */
  private def storedCentroids(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Array[Array[Double]] =
    spark.read.parquet(s"$dir/centroids").collect()
      .sortBy(_.getAs[Int]("cell"))
      .map(_.getAs[Seq[Double]]("centroid").toArray)

  /** ADC top-k against a PERSISTED index: probes assign to their
    * `nprobe` nearest STORED centroids (broadcast, codegen'd — a corpus
    * member lands on exactly its indexed cell), the codes scan prunes
    * to the probed cells at file level, and the fused ADC ranks. The
    * corpus' float embeddings are never touched — the point of the
    * quantized tier.
    */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                    probes: DataFrame, topk: Int,
                    nprobe: Int = 1): DataFrame = {
    val cb = codebookArrays(spark.read.parquet(s"$dir/codebook"))
    val bc = spark.sparkContext.broadcast(storedCentroids(spark, dir))
    val assigned = probes
      .withColumn("cell", explode(
        graft.functions.NativeFunctions.nearestCells(col("embedding"), bc,
          nprobe)))
      .select(col("vec_id").as("probe_id"), col("cell"), col("embedding"))
    val codes = pqStore(spark, dir).hide(spark.read.parquet(s"$dir/codes")
      .select(col("cand_id"), col("cell"), col("codes")))
    adcTopKFused(codes, assigned, cb, topk)
  }

  /** Grow a persisted index: the delta encodes with the STORED codebook
    * and assigns with the STORED centroids (an append must never
    * retrain — mixed codebooks would corrupt every ADC table lookup),
    * appending into the cell-partitioned codes layout.
    *
    * IDEMPOTENT: already-indexed ids are anti-joined away first (one
    * ids-only columnar scan), so a crashed append is repaired by simply
    * re-running the batch — at-least-once, the
    * [[graft.ops.Search.appendBm25Index]] contract. A TOMBSTONED id
    * fails loudly (run [[compactPqIndex]] before re-ingesting a
    * forgotten vector — appending under a hidden id would stay hidden,
    * and un-hiding would resurrect the forgotten codes).
    */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    delta: DataFrame): Unit =
    appendPqIndex(spark, dir, delta, assumeFresh = false)

  /** `assumeFresh = true`: the caller proves (streaming lanes'
    * pre-append high-water mark, ids unique across the stream) the
    * batch's ids were never appended, so the codes-wide ids anti-join
    * probe is skipped. Replays must pass false.
    */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    delta: DataFrame, assumeFresh: Boolean): Unit = {
    val index = pqStore(spark, dir)
    index.requireNotTombstoned(delta.select("vec_id"), "appendPqIndex",
      "compactPqIndex")
    val fresh = index.fresh(delta, spark.read.parquet(s"$dir/codes"), assumeFresh,
      rowKey = "vec_id")
    val cb = codebookArrays(spark.read.parquet(s"$dir/codebook"))
    val bc = spark.sparkContext.broadcast(storedCentroids(spark, dir))
    val assigned = fresh.withColumn("cell", element_at(
      graft.functions.NativeFunctions.nearestCells(col("embedding"), bc, 1), 1))
    CrashSeam.step(s"append $dir/codes")(encodePq(assigned, "embedding", cb)
      .select(col("vec_id").as("cand_id"), col("cell"), col("codes"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes"))
  }

  /** End-to-end IVF-PQ: k-means cells prune the candidate set, PQ codes
    * compress it, ADC ranks it, and an optional exact re-rank pass
    * (`rerank` > topk) rescores the ADC shortlist with true cosine —
    * the standard two-stage recall repair, touching only shortlist·probe
    * embeddings.
    */
  def pqIvfTopK(corpus: DataFrame, probes: DataFrame, topk: Int,
                m: Int = 8, k: Int = 16, cells: Int = 16, seed: Long = 42L,
                rerank: Int = 0): DataFrame = {
    // cells <= 1: pure PQ, no IVF pruning — every candidate in one cell
    val (clustered, assignedRaw) =
      if (cells <= 1) (corpus.withColumn("cell", lit(0)),
        probes.withColumn("cell", lit(0)))
      else {
        val (cl, model) = Similarity.kmeansCells(corpus, cells, seed)
        (cl, Similarity.assignCells(probes, model))
      }
    val codebook = trainPqCodebooks(corpus, "embedding", m, k, seed)
    val cb = codebookArrays(codebook)
    val candCodes = encodePq(clustered, "embedding", cb)
      .select(col("vec_id").as("cand_id"), col("cell"), col("codes"))
    val assigned = assignedRaw
      .select(col("vec_id").as("probe_id"), col("cell"), col("embedding"))
    if (rerank <= topk) adcTopKFused(candCodes, assigned, cb, topk)
    else {
      val shortlist = adcTopKFused(candCodes, assigned, cb, rerank)
        .select("probe_id", "cand_id")
      val pe = probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("p_emb"))
      val ce = corpus.select(col("vec_id").as("cand_id"),
        col("embedding").as("c_emb"))
      val exact = shortlist.join(broadcast(pe), "probe_id").join(ce, "cand_id")
        .withColumn("cos",
          graft.functions.NativeFunctions.dotF(col("p_emb"), col("c_emb")) /
            (sqrt(graft.functions.NativeFunctions.dotF(col("p_emb"), col("p_emb"))) *
             sqrt(graft.functions.NativeFunctions.dotF(col("c_emb"), col("c_emb")))))
      val w = Window.partitionBy("probe_id")
        .orderBy(round(col("cos"), 6).desc, col("cand_id").asc)
      exact.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= topk)
        .select(col("probe_id"), col("cand_id"),
          round(col("cos"), 4).as("cos"), col("rank"))
        .orderBy("probe_id", "rank")
    }
  }
}
