package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Model-based document quality filtering — the fastText-classifier stage
  * of frontier data pipelines (CCNet/LLaMA-style "looks like Wikipedia"
  * filters, FineWeb-Edu's classifier gate): a linear classifier over
  * hashed bag-of-words features, trained on labeled (or pseudo-labeled)
  * documents, then applied as a corpus-scale score-and-threshold pass.
  *
  * The split matters at 100 TB: TRAINING is an iterative MLlib
  * LogisticRegression over the (small) labeled set — driver-coordinated,
  * runs once, and the fitted weights MATERIALIZE to a plain
  * `(bucket, w_micro)` table. SCORING — the pass that actually sees the
  * corpus — never touches MLlib: it is explode → broadcast-join the
  * weight table → one map-side-combining integer sum per doc, all
  * codegen'd Column arithmetic. Weights are micro-unit quantized longs
  * (round(w,6)·1e6, the [[Dsir]] convention), so a doc's logit is an
  * EXACT integer sum — order-free, replayable bit-for-bit by an external
  * engine from the same weight table.
  *
  * Reference scope note: yaetos has no classifier stage; beyond-reference
  * LLM-pipeline surface (SURVEY §2 addenda).
  */
object QualityClassifier {

  /** Partitions the labeled set contracts to before the LBFGS fit (see
    * [[fitQualityModel]]).
    */
  private val TrainPartitions = 8

  /** Hashed unigram buckets of a document's tokens, with duplicates (bag
    * counts come from occurrence multiplicity) — portable md5 hash mod
    * `buckets`, same construction as [[Dsir.ngramBuckets]].
    */
  def tokenBuckets(text: Column, buckets: Int,
                   salt: String = "qcls"): Column =
    transform(TextFunctions.tokens(text),
      t => pmod(Sketches.hash60(t, salt), lit(buckets.toLong)))

  /** Fit the linear quality model on a labeled frame (`labelCol` ∈ {0,1})
    * and return the FULL weight table: one row per bucket with the
    * micro-quantized coefficient, plus the intercept at `bucket = -1`.
    * Feature vectors are raw bucket counts. The vector assembly uses a
    * UDF — acceptable here because training reads only the labeled set
    * (thousands of rows), never the corpus; the corpus-scale path is
    * [[scoreDocs]], which is UDF-free.
    */
  def fitQualityModel(labeled: DataFrame, textCol: String, labelCol: String,
                      buckets: Int = 1024, salt: String = "qcls",
                      maxIter: Int = 100, regParam: Double = 1e-3): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.linalg.Vectors
    val b = buckets
    val toVec = udf((bux: Seq[Long]) => {
      val m = scala.collection.mutable.HashMap.empty[Int, Double]
      bux.foreach(x => m(x.toInt) = m.getOrElse(x.toInt, 0.0) + 1.0)
      Vectors.sparse(b, m.toSeq.sortBy(_._1))
    })
    // the labeled set is small by contract (thousands of rows), but it
    // inherits the corpus scan's partitioning — every LBFGS iteration is
    // then one treeAggregate job over `defaultParallelism` near-empty
    // tasks, and a 100-iteration fit is scheduling, not math. Contract
    // to a handful of partitions so each iteration is a handful of
    // tasks. (coalesce, not repartition: narrow, and the per-partition
    // float-sum order stays deterministic for a given input.)
    // [[TrainPartitions]] bounds it: coalesce also CAPS the upstream
    // featurization scan's parallelism, and the bound suits the
    // contract-small labeled set.
    val train = labeled.select(col(labelCol).cast("double").as("label"),
      toVec(tokenBuckets(col(textCol), buckets, salt)).as("features"))
      .coalesce(TrainPartitions)
    // single-class input makes MLlib return an INFINITE intercept, which
    // then poisons the quantized weight table — fail loudly instead (the
    // labeled set is small by contract, so the check is cheap)
    val nClasses = train.select("label").distinct().count()
    require(nClasses == 2,
      s"fitQualityModel: labeled set must contain both classes, got $nClasses")
    val model = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam).setStandardization(false)
      .fit(train)
    val spark = labeled.sparkSession
    import spark.implicits._
    val rows = (-1L, model.intercept) +:
      model.coefficients.toArray.toSeq.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }
    rows.toDF("bucket", "w")
      .select(col("bucket"),
        round(round(col("w"), 6) * lit(1e6), 0).cast("long").as("w_micro"))
  }

  /** Score every document under a fitted weight table: logit z = Σ over
    * token occurrences of w[bucket(token)] + intercept, as an exact
    * micro-unit integer; `score = sigmoid(z)`. One explode, one broadcast
    * join, one partial-aggregating groupBy — the whole corpus pass is
    * shuffle-light and codegen'd. Docs with no tokens score the bare
    * intercept.
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                weights: DataFrame, buckets: Int,
                salt: String = "qcls"): DataFrame = {
    val w = broadcast(weights.filter(col("bucket") >= 0)
      .select(col("bucket"), col("w_micro")))
    // a no-grouping aggregate, not a bare filter: the intercept row is
    // unique by the fitQualityModel contract, and the aggregate makes the
    // 1-row bound PLAN-provable (the bound-frame shape PlanAuditSpec
    // allows) instead of a runtime accident of the weight table's content
    val intercept = broadcast(weights.filter(col("bucket") === -1L)
      .agg(max(col("w_micro")).as("_b0")))
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokenBuckets(col(textCol), buckets, salt)).as("bucket"))
    val sums = toks.join(w, "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w_micro").as("_zsum"))
    docs.select(col(idCol).as("doc_id"))
      .join(sums, Seq("doc_id"), "left")
      .crossJoin(intercept)
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("_zsum"), lit(0L)) + col("_b0")).as("z_micro"))
      .withColumn("score",
        lit(1.0) / (lit(1.0) + exp(-col("z_micro") / lit(1e6))))
  }

  /** [[scoreDocs]] + threshold: keep docs whose ROUNDED score clears
    * `tau` (rounding first makes the kept set reproducible across
    * engines — the repo's hash-threshold convention).
    */
  def filterByQuality(docs: DataFrame, idCol: String, textCol: String,
                      weights: DataFrame, buckets: Int, tau: Double,
                      salt: String = "qcls"): DataFrame =
    scoreDocs(docs, idCol, textCol, weights, buckets, salt)
      .withColumn("kept", round(col("score"), 6) >= tau)
}
