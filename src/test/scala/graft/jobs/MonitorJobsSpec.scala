package graft.jobs

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.model.Manifest
import graft.engine.Flow

/** The round-8 monitoring/retrieval/linkage branches run from
  * `conf/monitor_pipeline.yml` alone and agree with the library
  * operators they wrap.
  */
class MonitorJobsSpec extends SparkSpec {

  private lazy val loaded = {
    val out = java.nio.file.Files.createTempDirectory("graft_monjobs")
    Manifest.loadFile("conf/monitor_pipeline.yml", Seq("dev"),
      Map("out_root" -> out.toString))
  }

  test("numeric and categorical PSI + KS run from the manifest") {
    val psi = Flow.runPipeline(spark, loaded.jobs, "price_psi",
      save = false)("price_psi")
    assert(psi.count() === 10)
    // the planted 8% inflation must register as real drift
    assert(psi.agg(sum("psi_micro")).head().getLong(0) > 50000L)
    val cat = Flow.runPipeline(spark, loaded.jobs, "flag_psi",
      save = false)("flag_psi")
    assert(cat.columns.contains("category") && cat.count() >= 3)
    val sliced = Flow.runPipeline(spark, loaded.jobs, "price_psi_by_flag",
      save = false)("price_psi_by_flag")
    assert(sliced.columns.contains("group") && sliced.count() >= 30)
    val ks = Flow.runPipeline(spark, loaded.jobs, "price_ks",
      save = false)("price_ks").head()
    assert(ks.getAs[Long]("d_micro") > 10000L)
  }

  test("steady-state PSI: the first run writes the profile, later runs " +
      "never read the reference") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket").collect().map(_.toSeq).toSeq
    val first = rows(Flow.runPipeline(spark, loaded.jobs,
      "price_psi_steady", save = false)("price_psi_steady"))
    val direct = rows(Flow.runPipeline(spark, loaded.jobs, "price_psi",
      save = false)("price_psi"))
    assert(first === direct,
      "profile-fed PSI must equal the two-input recompute")
    // second tick: poison the reference input — a job that still read
    // it would score against garbage; the stored profile must win
    val poisoned = loaded.jobs("price_psi_steady")
    val jobs2 = loaded.jobs.updated("ref_snapshot",
      loaded.jobs("ref_snapshot").copy(
        sql = Some("SELECT CAST(0.0 AS DOUBLE) AS v, l_returnflag " +
          "FROM lineitem LIMIT 1")))
    assert(rows(Flow.runPipeline(spark, jobs2, "price_psi_steady",
      save = false)("price_psi_steady")) === first,
      "a later tick reread the reference corpus instead of the profile")
    assert(poisoned.params.contains("ref_path"))
  }

  test("per-slice steady monitors (psi + ks by group) equal the " +
      "full-recompute twins; later ticks never read the reference") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq).toSeq
    for ((steady, full) <- Seq(
        "price_psi_by_flag_steady" -> "price_psi_by_flag",
        "price_ks_by_flag_steady" -> "price_ks_by_flag")) {
      val first = rows(Flow.runPipeline(spark, loaded.jobs, steady,
        save = false)(steady))
      val direct = rows(Flow.runPipeline(spark, loaded.jobs, full,
        save = false)(full))
      assert(first === direct,
        s"$steady must equal $full's two-input recompute")
      // poisoned reference on the second tick: the stored slice
      // profiles must win
      val jobs2 = loaded.jobs.updated("ref_snapshot",
        loaded.jobs("ref_snapshot").copy(
          sql = Some("SELECT CAST(0.0 AS DOUBLE) AS v, l_returnflag " +
            "FROM lineitem LIMIT 1")))
      assert(rows(Flow.runPipeline(spark, jobs2, steady,
        save = false)(steady)) === first,
        s"$steady reread the reference corpus instead of the profile")
    }
  }

  /** Write a per-group reference through `job` (first run, with
    * `group_col`), then score it in the scalar form (no `group_col`):
    * the failure it raises.
    */
  private def scoredWithoutGroupCol(job: graft.engine.EtlJob): Exception = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_form").toString
    val ref = (1 to 300).map(i => (s"g${i % 3}", (i % 50).toDouble))
      .toDF("g", "v")
    val cur = ref.select(col("g"), (col("v") + 5).as("v"))
    val params = Map("value_col" -> "v", "ref_path" -> root)
    assert(job.transform(Map("reference" -> ref, "current" -> cur), spark,
      params + ("group_col" -> "g")).count() > 0)
    // a later run that forgot group_col must not score the slices as
    // one pooled distribution
    intercept[Exception](job.transform(Map("current" -> cur), spark,
      params).collect())
  }

  test("a per-group KS reference scored without group_col fails loudly " +
      "and names group_col") {
    val e = scoredWithoutGroupCol(new KsFromReferenceJob)
    assert(e.getMessage.contains("group_col"), e.getMessage)
  }

  test("a per-group PSI reference scored without group_col fails loudly " +
      "and names group_col") {
    val e = scoredWithoutGroupCol(new PsiFromReferenceJob)
    assert(e.getMessage.contains("group_col"), e.getMessage)
  }

  test("compactIncrements runs from the manifest; a compacted sink " +
      "replays a crashed batch identically (dir-identity contract)") {
    import spark.implicits._
    val root = loaded.jobs("compact_sink").params("path")
    val cur = (1 to 300).map(_.toDouble).toDF("v")
    (0 until 3).foreach(i => cur.repartition(3).write.parquet(s"$root/batch$i"))
    def files(i: Int) = new java.io.File(s"$root/batch$i").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val rep = Flow.runPipeline(spark, loaded.jobs, "compact_sink",
      save = false)("compact_sink").head()
    // two closed batches compact; the newest (replay-eligible) is spared
    assert(rep.getAs[Int]("dirs_compacted") === 2)
    assert(files(0) === 1 && files(1) === 1 && files(2) === 3)
    // dir identity preserved: a crashed micro-batch replay
    // (delete-and-rewrite keyed on the batch dir — the writeIncrement /
    // partialsSink contract) targets the SAME dir and converges to the
    // same content, compacted or not
    val before = spark.read.parquet(s"$root/batch0")
      .as[Double].collect().sorted.toSeq
    val dir = new org.apache.hadoop.fs.Path(s"$root/batch0")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    cur.repartition(3).write.parquet(s"$root/batch0")
    assert(spark.read.parquet(s"$root/batch0")
      .as[Double].collect().sorted.toSeq === before)
    // the replayed batch re-compacts on the next cadence pass; batch2
    // keeps its tail protection (the mtime-refresh race is gone)
    val rep2 = Flow.runPipeline(spark, loaded.jobs, "compact_sink",
      save = false)("compact_sink").head()
    assert(rep2.getAs[Int]("dirs_compacted") === 1)
    assert(files(0) === 1 && files(2) === 3)
  }

  test("StatsManifestJob builds on first run, delta-refreshes after") {
    import graft.core.io.Skipping
    import graft.core.io.Skipping.ColumnRange
    val path = loaded.jobs("skip_manifest").params("path")
    val mf = path.stripSuffix("/") + "_manifest"
    val li = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
        "lineitem").select("l_orderkey", "l_extendedprice", "l_shipdate")
    graft.ops.Layout.rangeSortedWrite(li, col("l_orderkey"), path,
      numFiles = 6)
    val first = Flow.runPipeline(spark, loaded.jobs, "skip_manifest",
      save = false)("skip_manifest").head()
    assert(first.getLong(0) === 6L && first.getLong(2) === 6L)
    // the job-built manifest prunes
    val hi = li.agg(max("l_orderkey")).head().getLong(0)
    val p = Skipping.pruneFiles(spark, path, mf,
      Seq(ColumnRange("l_orderkey", Some(hi), None)))
    assert(p.readFiles < p.manifestFiles)
    // append a file out-of-band; the next tick profiles ONLY it, and
    // the inherited column set still covers l_shipdate
    li.limit(10).coalesce(1).write.mode("append").parquet(path)
    val second = Flow.runPipeline(spark, loaded.jobs, "skip_manifest",
      save = false)("skip_manifest").head()
    assert(second.getLong(0) === 1L && second.getLong(1) === 0L &&
      second.getLong(2) === 7L)
    val got = Skipping.read(spark, path, mf,
      Seq(ColumnRange("l_shipdate", None, Some("1995-12-31"))))
    assert(got.count() === spark.read.parquet(path)
      .filter(col("l_shipdate") <= "1995-12-31").count())
  }

  test("per-source hot tokens and hybrid search agree with the ops") {
    val hh = Flow.runPipeline(spark, loaded.jobs, "source_hot_tokens",
      save = false)("source_hot_tokens")
    assert(hh.count() > 0 &&
      hh.columns.toSet === Set("source", "value", "cnt", "n_group"))
    val hybrid = Flow.runPipeline(spark, loaded.jobs, "hybrid_search",
      save = false)("hybrid_search")
    assert(hybrid.count() > 0)
    // every query's fused list is ranked 1..k with n_lists in {1,2}
    val bad = hybrid.filter(col("rank") < 1 || col("rank") > 5 ||
      !col("n_lists").isin(1L, 2L)).count()
    assert(bad === 0L)
  }

  test("semantic decontamination and the image gate run from the manifest") {
    val clean = Flow.runPipeline(spark, loaded.jobs, "clean_embeddings",
      save = false)("clean_embeddings")
    val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings").select("vec_id", "embedding", "label")
    val direct = graft.ops.Similarity.semanticDecontaminate(
      emb.filter(col("vec_id") % 97 =!= 0), "vec_id", "embedding",
      emb.filter(col("vec_id") % 97 === 0), "vec_id", "embedding",
      threshold = 0.4)
    assert(clean.select("vec_id").collect().map(_.getLong(0)).toSet ===
      direct.select("vec_id").collect().map(_.getLong(0)).toSet)
    val gated = Flow.runPipeline(spark, loaded.jobs, "image_gate",
      save = false)("image_gate")
    // planted dims: width = doc_id % 240 + 16 — the gate keeps >= 64 only
    assert(gated.count() > 0)
    assert(gated.filter(col("width") < 64 || col("height") < 64).isEmpty)
    assert(gated.filter(col("format") =!= "png").isEmpty)
  }

  test("record linkage from the manifest matches the library decisions") {
    val linked = Flow.runPipeline(spark, loaded.jobs, "part_linkage",
      save = false)("part_linkage")
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select("p_partkey", "p_name", "p_brand", "p_type")
    val direct = graft.ops.Linkage.linkagePairs(part, "p_partkey", "p_name",
        Seq(graft.ops.Linkage.LinkField("p_name", 0.9, 0.1, 1),
          graft.ops.Linkage.LinkField("p_brand", 0.95, 0.2),
          graft.ops.Linkage.LinkField("p_type", 0.9, 0.3)),
        blockMaxDist = 1, upperMicro = 3000000L, lowerMicro = 0L)
      .filter(col("decision") =!= "non_match")
    assert(linked.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet)
  }
}
