package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.EtlJob
import graft.ops.{Linkage, Search, Similarity, Sketches, Stats}

/** Manifest adapters for the round-8 monitoring / retrieval / linkage
  * operators — the YAML-driven form of the q182–q192 families, keeping
  * the reference's "declare it in the manifest" workflow for the new
  * surface (reference launcher shape: jobs/generic/launcher.py).
  */

/** Feature-drift PSI ([[Stats.psi]] / [[Stats.psiCategorical]] /
  * [[Stats.psiByGroup]]). Inputs: `reference` and `current` (by key).
  * Params: `value_col` (required), `categorical` (default false),
  * `group_col` (optional — per-slice monitoring), `bins` (default 10),
  * `exact` (default true).
  */
class PsiJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    val ref = inputs.getOrElse("reference",
      sys.error("PsiJob needs a 'reference' input"))
    val cur = inputs.getOrElse("current",
      sys.error("PsiJob needs a 'current' input"))
    val v = params.getOrElse("value_col",
      sys.error("PsiJob needs a 'value_col' param"))
    if (params.getOrElse("categorical", "false").toBoolean)
      Stats.psiCategorical(ref, cur, v).orderBy("category")
    else params.get("group_col") match {
      case Some(g) =>
        Stats.psiByGroup(ref, cur, g, v,
          bins = params.getOrElse("bins", "10").toInt,
          exact = params.getOrElse("exact", "true").toBoolean)
          .orderBy("group", "bucket")
      case None =>
        Stats.psi(ref, cur, v,
          bins = params.getOrElse("bins", "10").toInt,
          exact = params.getOrElse("exact", "true").toBoolean)
          .orderBy("bucket")
    }
  }
}

/** Steady-state PSI monitoring against a PERSISTED reference profile
  * ([[Stats.writePsiReference]] / [[Stats.psiFromReference]]): the
  * profile (quantile edges + bucket counts) is written ONCE to
  * `ref_path` — on the first run, from the `reference` input — and
  * every later run scores only the `current` input against it, never
  * rescanning the reference corpus (the round-9 mergeable-drift lane
  * in manifest form). Params: `value_col` + `ref_path` (required),
  * `group_col` (optional — the per-slice matrix, one profile per
  * slice), `bins` (default 10, profile-write time only), `exact`
  * (default true). The `reference` input is optional once the profile
  * exists. The stored profile decides the form: a later run whose
  * `group_col` disagrees with the one the profile was written with
  * fails loudly.
  */
class PsiFromReferenceJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    val v = params.getOrElse("value_col",
      sys.error("PsiFromReferenceJob needs a 'value_col' param"))
    val path = params.getOrElse("ref_path",
      sys.error("PsiFromReferenceJob needs a 'ref_path' param"))
    val cur = inputs.getOrElse("current",
      sys.error("PsiFromReferenceJob needs a 'current' input"))
    val g = params.get("group_col")
    val buckets = new org.apache.hadoop.fs.Path(s"$path/buckets")
    val fs = buckets.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(buckets))
      Stats.writePsiReference(inputs.getOrElse("reference", sys.error(
          "PsiFromReferenceJob: no profile at ref_path yet — the first " +
            "run needs a 'reference' input to write it")), v, path,
        bins = params.getOrElse("bins", "10").toInt,
        exact = params.getOrElse("exact", "true").toBoolean, groupCol = g)
    Stats.psiFromReference(spark, path, cur, v, g)
      .orderBy((g.map(_ => "group").toSeq :+ "bucket").map(col): _*)
  }
}

/** Exact KS against a PERSISTED reference ([[Stats.ksFromReference]]) —
  * [[KsDriftJob]]'s steady-state twin: the reference's distinct-value
  * counts are written once (first run needs a `reference` input), every
  * later tick contracts only the `current` input. Params: `value_col`,
  * `ref_path` (required), `buckets` (default 64), `group_col` (optional
  * — the per-slice matrix). The stored counts decide the form: a later
  * run whose `group_col` disagrees with the one they were written with
  * fails loudly.
  */
class KsFromReferenceJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    val v = params.getOrElse("value_col",
      sys.error("KsFromReferenceJob needs a 'value_col' param"))
    val path = params.getOrElse("ref_path",
      sys.error("KsFromReferenceJob needs a 'ref_path' param"))
    val cur = inputs.getOrElse("current",
      sys.error("KsFromReferenceJob needs a 'current' input"))
    val g = params.get("group_col")
    val values = new org.apache.hadoop.fs.Path(s"$path/values")
    val fs = values.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(values))
      Stats.writeKsReference(inputs.getOrElse("reference", sys.error(
        "KsFromReferenceJob: no profile at ref_path yet — the first " +
          "run needs a 'reference' input to write it")), v, path, g)
    val out = Stats.ksFromReference(spark, path, cur, v,
      buckets = params.getOrElse("buckets", "64").toInt, groupCol = g)
    if (g.isDefined) out.orderBy("group") else out
  }
}

/** Exact two-sample KS drift ([[Stats.ksStatistic]] /
  * [[Stats.ksByGroup]]). Inputs: `reference`/`current`. Params:
  * `value_col` (required), `buckets` (default 64), `group_col`
  * (optional — per-slice monitoring, one supremum row per group).
  */
class KsDriftJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    val ref = inputs.getOrElse("reference",
      sys.error("KsDriftJob needs a 'reference' input"))
    val cur = inputs.getOrElse("current",
      sys.error("KsDriftJob needs a 'current' input"))
    val v = params.getOrElse("value_col",
      sys.error("KsDriftJob needs a 'value_col' param"))
    val buckets = params.getOrElse("buckets", "64").toInt
    params.get("group_col") match {
      case Some(g) =>
        Stats.ksByGroup(ref, cur, g, v, buckets = buckets).orderBy("group")
      case None => Stats.ksStatistic(ref, cur, v, buckets = buckets)
    }
  }
}

/** Small-file maintenance for a streaming/incremental sink
  * ([[graft.core.io.Maintenance.compactIncrements]]) — the cadence
  * companion of the GDPR compacts, manifest-schedulable beside them:
  * per-trigger `batch*`/`inc_*` dirs accumulate small files until the
  * LISTING dominates every downstream scan. Params: `path` (required —
  * the sink root), `target_file_bytes` (default 128 MiB),
  * `keep_latest` (default 1 — the replay-eligible tail, protected by
  * the dir-name logical order), `min_files` (default 2), `manifest`
  * (optional — an existing skipping manifest to delta-refresh after
  * the rewrites, so the compaction tick and its manifest tick travel
  * together). Output: a one-row audit report
  * `(dirs_compacted, files_before, files_after)`
  * — run with `--no_save` when only the side effect matters.
  */
class CompactIncrementsJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    val path = params.getOrElse("path",
      sys.error("CompactIncrementsJob needs a 'path' param"))
    val res = graft.core.io.Maintenance.compactIncrements(spark, path,
      targetFileBytes = params.getOrElse("target_file_bytes",
        (128L * 1024 * 1024).toString).toLong,
      keepLatest = params.getOrElse("keep_latest", "1").toInt,
      minFiles = params.getOrElse("min_files", "2").toInt,
      statsManifest = params.get("manifest"))
    import spark.implicits._
    Seq((res.dirsCompacted, res.filesBefore, res.filesAfter))
      .toDF("dirs_compacted", "files_before", "files_after")
  }
}

/** Skipping-manifest maintenance ([[graft.core.io.Skipping]]): the
  * first run builds the per-file min/max stats manifest, every later
  * cadence tick delta-refreshes it — only files the manifest has never
  * seen are profiled, vanished files' rows drop, profiled columns are
  * inherited from the manifest. Schedule beside
  * [[CompactIncrementsJob]] / the GDPR compacts so their rewrites
  * re-profile on the next tick (between ticks the rewritten files read
  * conservatively — correct, just unpruned). Params: `path` (required
  * — the parquet dir), `manifest` (default `<path>_manifest`), `cols`
  * (comma-separated; consulted only for the first build). Output: a
  * one-row audit `(profiled_files, dropped_files, total_files)` — run
  * with `--no_save` when only the side effect matters.
  */
class StatsManifestJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    import graft.core.io.Skipping
    val path = params.getOrElse("path",
      sys.error("StatsManifestJob needs a 'path' param"))
    val manifestDir = params.getOrElse("manifest",
      path.stripSuffix("/") + "_manifest")
    // build-or-refresh through the shared maintenance entry (also the
    // write-path `stats_manifest` hook): footers-first build, delta
    // append ticks, columns inherited after the first build
    val cols = params.get("cols").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    // error surfaces name THIS job's param ('cols'), not the library
    // default 'stats_cols' — the knob an operator can actually set here
    val d = Skipping.maintainManifest(spark, path, manifestDir, cols,
      colsParamName = "cols")
    import spark.implicits._
    Seq((d.profiledFiles.toLong, d.droppedFiles.toLong, d.totalFiles))
      .toDF("profiled_files", "dropped_files", "total_files")
  }
}

/** Per-group exact heavy hitters ([[Sketches.heavyHittersPerGroup]]).
  * Params: `group_col` (required), `value_col` (required, or
  * `text_col` to token-explode), `phi` (default 0.01).
  */
class HeavyHittersPerGroupJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    val in = inputs.values.head
    val group = params.getOrElse("group_col",
      sys.error("HeavyHittersPerGroupJob needs a 'group_col' param"))
    val pairs = params.get("value_col") match {
      case Some(v) => in.select(col(group), col(v))
      case None =>
        val t = params.getOrElse("text_col", "text")
        in.select(col(group),
            explode(split(lower(col(t)), " ")).as("value"))
          .filter(col("value") =!= "")
    }
    val valueCol = pairs.columns.last
    Sketches.heavyHittersPerGroup(pairs, group, valueCol,
        phi = params.getOrElse("phi", "0.01").toDouble)
      .orderBy(group, valueCol)
  }
}

/** Image-header metadata gate ([[graft.ops.Multimodal.imageMeta]]).
  * Params: `payload_col` (default `payload`); optional `min_width` /
  * `min_height` — when either is set, unparseable or undersized rows
  * are DROPPED (the curation gate), else rows pass through annotated.
  */
class ImageMetaJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    val out = graft.ops.Multimodal.imageMeta(inputs.values.head,
      params.getOrElse("payload_col", "payload"))
    (params.get("min_width"), params.get("min_height")) match {
      case (None, None) => out
      case (w, h) =>
        out.filter(col("format").isNotNull &&
          col("width") >= w.getOrElse("1").toInt &&
          col("height") >= h.getOrElse("1").toInt)
    }
  }
}

/** Hybrid lexical+semantic retrieval ([[Search.bm25TopK]] +
  * [[Similarity.bruteForceTopK]] + [[Search.rrfFuse]]). Inputs:
  * `docs` (id+text), `queries` (query_id+qtext), `embeddings`
  * (vec_id+embedding, ids aligned with docs). Params: `k_each`
  * (per-list depth, default 10), `topk` (default 5), `k_const`
  * (default 60), `drop_self` (default true).
  */
class HybridSearchJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    val docs = inputs.getOrElse("docs",
      sys.error("HybridSearchJob needs a 'docs' input"))
    val queries = inputs.getOrElse("queries",
      sys.error("HybridSearchJob needs a 'queries' input"))
    val emb = inputs.getOrElse("embeddings",
      sys.error("HybridSearchJob needs an 'embeddings' input"))
    val kEach = params.getOrElse("k_each", "10").toInt
    val lex0 = Search.bm25TopK(docs, queries, "doc_id", "text",
      "query_id", "qtext", k = kEach)
    val lex = (if (params.getOrElse("drop_self", "true").toBoolean)
        lex0.filter(col("query_id") =!= col("doc_id")) else lex0)
      .select("query_id", "doc_id", "rank")
    val probes = emb.join(queries.select(col("query_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val pn = probes.count()
    val sem = Similarity.bruteForceTopK(emb, probes, k = kEach,
        probeRows = Some(pn))
      .select(col("probe_id").as("query_id"), col("cand_id").as("doc_id"),
        col("rank"))
    Search.rrfFuse(Seq(lex, sem), "query_id", "doc_id", "rank",
        kConst = params.getOrElse("k_const", "60").toInt,
        topk = params.getOrElse("topk", "5").toInt)
      .orderBy("query_id", "rank")
  }
}

/** Embedding-space decontamination ([[Similarity
  * .semanticDecontaminate]]). Inputs: `corpus` and `eval_set`. Params:
  * `id_col` (default `vec_id`), `emb_col` (default `embedding`),
  * `threshold` (required).
  */
class SemanticDecontaminateJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    val corpus = inputs.getOrElse("corpus",
      sys.error("SemanticDecontaminateJob needs a 'corpus' input"))
    val ev = inputs.getOrElse("eval_set",
      sys.error("SemanticDecontaminateJob needs an 'eval_set' input"))
    val id = params.getOrElse("id_col", "vec_id")
    val e = params.getOrElse("emb_col", "embedding")
    Similarity.semanticDecontaminate(corpus, id, e, ev, id, e,
      threshold = params.getOrElse("threshold",
        sys.error("SemanticDecontaminateJob needs a 'threshold' param"))
        .toDouble)
  }
}

/** Fellegi-Sunter record linkage ([[Linkage.linkagePairs]]). Params:
  * `id_col`, `block_col` (required), `fields` (required —
  * `name:m:u[:maxDist]` comma list), `upper_micro`/`lower_micro`
  * (required), `block_max_dist` (default 1). Output keeps the
  * match/possible bands unless `keep_non_match=true`.
  */
class RecordLinkageJob extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame = {
    val fields = params.getOrElse("fields",
        sys.error("RecordLinkageJob needs a 'fields' param"))
      .split(",").map(_.trim).filter(_.nonEmpty).map { spec =>
        spec.split(":") match {
          case Array(n, m, u) => Linkage.LinkField(n, m.toDouble, u.toDouble)
          case Array(n, m, u, d) =>
            Linkage.LinkField(n, m.toDouble, u.toDouble, d.toInt)
          case _ => sys.error(s"bad linkage field spec: $spec " +
            "(want name:m:u[:maxDist])")
        }
      }.toSeq
    val out = Linkage.linkagePairs(inputs.values.head,
      params.getOrElse("id_col",
        sys.error("RecordLinkageJob needs an 'id_col' param")),
      params.getOrElse("block_col",
        sys.error("RecordLinkageJob needs a 'block_col' param")),
      fields,
      blockMaxDist = params.getOrElse("block_max_dist", "1").toInt,
      upperMicro = params.getOrElse("upper_micro",
        sys.error("RecordLinkageJob needs an 'upper_micro' param")).toLong,
      lowerMicro = params.getOrElse("lower_micro",
        sys.error("RecordLinkageJob needs a 'lower_micro' param")).toLong)
    if (params.getOrElse("keep_non_match", "false").toBoolean) out
    else out.filter(col("decision") =!= "non_match")
  }
}
