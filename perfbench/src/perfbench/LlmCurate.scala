package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.core.model.Manifest
import graft.engine.{Etl, Flow}

/** The `conf/llm_pipeline.yml` shape over generated corpus shards: exact
  * dedup → MinHash near-dup → quality gate → hash split (one pk-checked
  * parquet write), plus a semantic-dedup branch. Each shard is one
  * `Flow.runPipeline` call (one step).
  */
final class LlmCurate extends Workload {
  val shards = 1
  val uniques = 500        // unique documents per shard
  val clusters = 100       // planted duplicate clusters per shard
  val maxCluster = 12      // cluster sizes Zipf(1.2)-skewed over 2..12
  val exactShare = 0.3     // share of copies that are exact, the rest near
  val dim = 32

  private var corpora: Seq[Corpus] = Nil // the warm-up shard, then the measured ones
  private val dropFrac = collection.mutable.ArrayBuffer.empty[Double]

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType, false))))

  def prepare(ctx: Ctx): Long = {
    val g = new Gen(ctx.seed)
    val vocab = g.vocabulary(6000)
    // shard 0 is a small warm-up shard: the same pipeline over a tenth of the data
    corpora = (0 to shards).map { k =>
      val scale = if (k == 0) 10 else 1
      val c = Corpus.generate(g, vocab, uniques / scale, clusters / scale, maxCluster,
        exactShare, edits = 1, firstId = k * 1000000L, dim = dim, lo = 60, hi = 80)
      ctx.spark.createDataFrame(c.docs.map { case (id, t, e) => Row(id, t, e.toSeq) }.asJava,
        schema).coalesce(1).write.parquet(ctx.path(s"in/shard$k"))
      c
    }
    (1 to shards).map(k => Files.parquetBytes(ctx.path(s"in/shard$k"))).sum
  }

  def manifest(input: String, out: String): String =
    s"""jobs:
       |  dedup_docs:
       |    class: graft.jobs.DedupExactJob
       |    inputs:
       |      documents: {path: "$input", type: parquet}
       |  neardup_docs:
       |    class: graft.jobs.NearDupJob
       |    dependencies: [dedup_docs]
       |    inputs: {dedup_docs: {type: df}}
       |    params: {threshold: "0.7"}
       |  quality_gate:
       |    class: graft.jobs.QualityFilterJob
       |    dependencies: [neardup_docs]
       |    inputs: {neardup_docs: {type: df}}
       |    params: {min_quality: "0.3"}
       |  split_corpus:
       |    class: graft.jobs.HashSplitJob
       |    dependencies: [quality_gate]
       |    inputs: {quality_gate: {type: df}}
       |    output: {path: "$out/corpus", type: parquet, pk: [doc_id]}
       |    params: {salt: perfbench, fractions: "train:0.9,val:0.05,test:0.05"}
       |  semdedup_docs:
       |    class: graft.jobs.SemanticDedupJob
       |    dependencies: [dedup_docs]
       |    inputs: {dedup_docs: {type: df}}
       |    output: {path: "$out/semdedup", type: parquet, pk: [doc_id]}
       |    params: {threshold: "0.95", cells: "8", seed: "7"}
       |  curated:
       |    dependencies: [split_corpus, semdedup_docs]
       |    sql: "SELECT 1 AS done"
       |""".stripMargin

  private val stageSpan = Map("dedup_docs" -> "ops.exact_dedup",
    "neardup_docs" -> "ops.neardup", "quality_gate" -> "ops.quality",
    "semdedup_docs" -> "ops.semdedup", "split_corpus" -> "engine.run_job")

  /** The traced form of `Flow.runPipeline`: each job in DAG order inside its
    * own span, its output persisted and materialized there (the noop sink
    * for chained frames, the job's own write otherwise).
    */
  private def tracedPipeline(ctx: Ctx, jobs: Map[String, graft.core.model.JobSpec],
                             now: String): Unit = {
    val done = collection.mutable.Map.empty[String, DataFrame]
    Flow.topoOrder(Flow.upstream(jobs, "curated")).filter(stageSpan.contains).foreach { n =>
      ctx.span(stageSpan(n)) {
        val res = Etl.runJob(ctx.spark, jobs(n), loadedInputs = done.toMap, now = now)
        val df = res.df.persist()
        if (res.writtenPath.isEmpty) df.write.format("noop").mode("overwrite").save()
        done(n) = df
      }
    }
    val in = done("dedup_docs").count()
    dropFrac += (in - done("neardup_docs").count()).toDouble / math.max(in, 1L)
    done.values.foreach(_.unpersist())
  }

  def round(ctx: Ctx, r: Int): Round = {
    val spark = ctx.spark
    val shardIds = if (r == 0) Seq(0) else 1 to shards
    val (steps, wall) = ctx.timed(shardIds.map { k =>
      val ts = System.nanoTime()
      val jobs = Manifest.parse(manifest(ctx.path(s"in/shard$k"), ctx.path(s"r$r/s$k"))).jobs
      if (ctx.tracer.enabled) tracedPipeline(ctx, jobs, s"r$r")
      else Flow.runPipeline(spark, jobs, "curated", now = s"r$r", persistIntermediates = true)
      (System.nanoTime() - ts) / 1e9
    })
    val checks = shardIds.flatMap { k =>
      val c = corpora(k)
      def ids(p: String) = spark.read.parquet(ctx.path(s"r$r/s$k/$p")).select("doc_id")
        .collect().map(_.getLong(0))
      val kept = ids("corpus")
      val want = c.survivors
      val sem = ids("semdedup").toSet
      val semLost = c.uniqueIds.count(!sem.contains(_)) +
        c.clusters.count(cl => !cl.exists(sem.contains))
      Seq(
        Check(s"llm.shard$k.survivors", kept.length == kept.toSet.size && kept.toSet == want,
          s"kept ${kept.length}, want ${want.size}, missing ${(want -- kept).size}, " +
            s"extra ${(kept.toSet -- want).size}"),
        Check(s"llm.shard$k.semdedup", semLost == 0,
          s"${sem.size} kept, $semLost unique docs or clusters lost"))
    }
    Files.delete(ctx.path(s"r$r"))
    Round(wall, shardIds.map(corpora(_).docs.size.toLong).sum, wall, steps,
      attempted = shardIds.size, checks)
  }

  override def layerMetrics(ctx: Ctx, t: Tracer, rounds: Seq[Round]): Map[String, Double] = {
    val n = math.max(rounds.size, 1)
    Map("ops.exact_dedup_s" -> Layers.spanSeconds(t, "ops.exact_dedup") / n,
      "ops.neardup_s" -> Layers.spanSeconds(t, "ops.neardup") / n,
      "ops.semdedup_s" -> Layers.spanSeconds(t, "ops.semdedup") / n,
      "ops.quality_s" -> Layers.spanSeconds(t, "ops.quality") / n,
      "ops.neardup.drop_frac" -> Stats.median(dropFrac.toSeq))
  }
}
