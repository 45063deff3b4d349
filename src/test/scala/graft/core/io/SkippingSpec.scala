package graft.core.io

import graft.SparkSpec
import graft.core.io.Skipping.ColumnRange
import graft.ops.Layout
import org.apache.spark.sql.functions._

class SkippingSpec extends SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_skip").toString
    (s"$root/data", s"$root/manifest")
  }

  private def corpus() = spark.range(0, 1000)
    .select(col("id"),
      (col("id") * 7 % 1000).as("v"),
      concat(lit("k"), lpad(col("id").cast("string"), 4, "0")).as("s"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") / 10).cast("int")).as("d"))

  test("pruned read equals full filter and reads fewer files") {
    val (data, mf) = freshDirs()
    Layout.rangeSortedWrite(corpus(), col("id"), data, numFiles = 10,
      tiebreak = Seq(col("id")))
    assert(Skipping.writeStatsManifest(spark, data,
      Seq("id", "s", "d"), mf) === 10L)

    val ranges = Seq(ColumnRange("id", Some(100L), Some(299L)))
    val pruned = Skipping.pruneFiles(spark, data, mf, ranges)
    assert(pruned.unlistedFiles === 0)
    assert(pruned.manifestFiles === 10)
    assert(pruned.readFiles <= 3, s"range-clustered layout must prune " +
      s"to ~2 of 10 files, read ${pruned.readFiles}")

    val got = Skipping.read(spark, data, mf, ranges)
    val want = spark.read.parquet(data)
      .filter(col("id") >= 100 && col("id") <= 299)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() === 200)
    // the scan itself only touches the surviving files
    assert(got.inputFiles.length === pruned.readFiles)
  }

  test("string and date ranges prune lexicographically/chronologically") {
    val (data, mf) = freshDirs()
    Layout.rangeSortedWrite(corpus(), col("id"), data, numFiles = 10,
      tiebreak = Seq(col("id")))
    Skipping.writeStatsManifest(spark, data, Seq("id", "s", "d"), mf)
    // s = k0000..k0999 clustered with id; d advances every 10 ids
    val sGot = Skipping.read(spark, data, mf,
      Seq(ColumnRange("s", Some("k0500"), Some("k0549"))))
    assert(sGot.count() === 50)
    assert(sGot.inputFiles.length <= 2)
    val dGot = Skipping.read(spark, data, mf,
      Seq(ColumnRange("d", Some("2024-01-11"), Some("2024-01-20"))))
    assert(dGot.count() === 100) // ids 100..199
    assert(dGot.inputFiles.length <= 2)
    // conjunction: the tighter column wins
    val both = Skipping.read(spark, data, mf,
      Seq(ColumnRange("id", Some(0L), Some(999L)),
        ColumnRange("s", Some("k0990"), None)))
    assert(both.count() === 10)
    assert(both.inputFiles.length <= 2)
  }

  test("files appended after the manifest are read conservatively") {
    val (data, mf) = freshDirs()
    Layout.rangeSortedWrite(corpus(), col("id"), data, numFiles = 5,
      tiebreak = Seq(col("id")))
    Skipping.writeStatsManifest(spark, data, Seq("id"), mf)
    // late arrival OUTSIDE every profiled range
    spark.range(5000, 5010).select(col("id"),
        lit(0L).as("v"), lit("zzz").as("s"),
        lit(java.sql.Date.valueOf("2030-01-01")).as("d"))
      .coalesce(1).write.mode("append").parquet(data)
    val ranges = Seq(ColumnRange("id", Some(5000L), None))
    val pruned = Skipping.pruneFiles(spark, data, mf, ranges)
    assert(pruned.unlistedFiles === 1)
    val got = Skipping.read(spark, data, mf, ranges)
    assert(got.count() === 10) // the unlisted file is always scanned
    // and the 5 stale-manifest files were still pruned away
    assert(got.inputFiles.length === 1)
  }

  test("all-null stats prune; wrong-typed bounds degrade to no pruning") {
    val (data, mf) = freshDirs()
    // one file of values, one file entirely null in v
    Seq((1L, Option(5L)), (2L, Option(6L))).toDF("id", "v")
      .coalesce(1).write.parquet(data)
    Seq((3L, Option.empty[Long]), (4L, Option.empty[Long])).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(data)
    Skipping.writeStatsManifest(spark, data, Seq("v"), mf)
    val p = Skipping.pruneFiles(spark, data, mf,
      Seq(ColumnRange("v", Some(0L), Some(100L))))
    assert(p.readFiles === 1, "the all-null file is prunable: range " +
      "predicates reject null")
    // a String bound probing a long-profiled column: the min/max
    // comparison degrades to no pruning (typed slots are null), but the
    // all-null exclusion still applies — row filters reject null for
    // any bound type
    val loose = Skipping.pruneFiles(spark, data, mf,
      Seq(ColumnRange("v", Some("5"), None)))
    assert(loose.readFiles === 1)
    val got = Skipping.read(spark, data, mf,
      Seq(ColumnRange("v", Some("5"), None)))
    assert(got.count() ===
      spark.read.parquet(data).filter(col("v") >= "5").count())
  }

  test("empty survivor set returns an empty, correctly-shaped frame") {
    val (data, mf) = freshDirs()
    Layout.rangeSortedWrite(corpus(), col("id"), data, numFiles = 4,
      tiebreak = Seq(col("id")))
    Skipping.writeStatsManifest(spark, data, Seq("id"), mf)
    val got = Skipping.read(spark, data, mf,
      Seq(ColumnRange("id", Some(10000L), None)))
    assert(got.isEmpty)
    assert(got.columns.toSeq === Seq("id", "v", "s", "d"))
  }

  test("appendStatsManifest profiles only new files, drops vanished ones") {
    val (data, mf) = freshDirs()
    Layout.rangeSortedWrite(corpus().filter(col("id") < 500), col("id"),
      data, numFiles = 5, tiebreak = Seq(col("id")))
    Skipping.writeStatsManifest(spark, data, Seq("id", "s"), mf)
    // append two new range-clustered files
    Layout.rangeSortedWrite(corpus().filter(col("id") >= 500), col("id"),
      s"${data}_late", numFiles = 2, tiebreak = Seq(col("id")))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val late = fs.listStatus(new org.apache.hadoop.fs.Path(s"${data}_late"))
      .filter(_.getPath.getName.endsWith(".parquet"))
    late.zipWithIndex.foreach { case (st, i) =>
      fs.rename(st.getPath,
        new org.apache.hadoop.fs.Path(s"$data/late-$i.parquet"))
    }
    val d1 = Skipping.appendStatsManifest(spark, data, mf)
    assert(d1.profiledFiles === 2 && d1.droppedFiles === 0 &&
      d1.totalFiles === 7)
    // the freshly profiled files now PRUNE (not just conservative-read):
    val p = Skipping.pruneFiles(spark, data, mf,
      Seq(ColumnRange("id", Some(900L), None)))
    assert(p.unlistedFiles === 0)
    assert(p.readFiles === 1, "only the upper late file overlaps")
    val got = Skipping.read(spark, data, mf,
      Seq(ColumnRange("id", Some(900L), None)))
    assert(got.count() === 100)
    // inherited column set: string ranges keep working on appended files
    assert(Skipping.read(spark, data, mf,
      Seq(ColumnRange("s", Some("k0990"), None))).count() === 10)
    // idempotent when nothing changed
    val d2 = Skipping.appendStatsManifest(spark, data, mf)
    assert(d2.profiledFiles === 0 && d2.droppedFiles === 0)
    // vanished files drop from the manifest on the next tick
    fs.delete(new org.apache.hadoop.fs.Path(s"$data/late-0.parquet"), false)
    val d3 = Skipping.appendStatsManifest(spark, data, mf)
    assert(d3.profiledFiles === 0 && d3.droppedFiles === 1 &&
      d3.totalFiles === 6)
    assert(Skipping.read(spark, data, mf,
      Seq(ColumnRange("id", Some(0L), None))).count() ===
      spark.read.parquet(data).count())
  }

  test("nested Hive-partitioned layout: manifest, pruning and append all " +
    "see the same recursive file set") {
    val (data, mf) = freshDirs()
    corpus().withColumn("part", (col("id") / 250).cast("int"))
      .repartition(col("part"))
      .write.partitionBy("part").parquet(data)
    val n = Skipping.writeStatsManifest(spark, data, Seq("id"), mf)
    assert(n >= 4L)
    val ranges = Seq(ColumnRange("id", Some(0L), Some(99L)))
    val pruned = Skipping.pruneFiles(spark, data, mf, ranges)
    // before the recursive listing fix this was kept=∅/unlisted=∅ and
    // read() silently returned an EMPTY frame
    assert(pruned.unlistedFiles === 0)
    assert(pruned.readFiles >= 1 && pruned.readFiles < n)
    val got = Skipping.read(spark, data, mf, ranges)
    assert(got.count() === 100)
    // partition column survives the explicit-file read (basePath)
    assert(got.columns.contains("part"))
    assert(got.select("part").distinct().collect().map(_.getInt(0)).toSeq
      === Seq(0))
    // the refresh tick keeps every profiled row (no silent discard)
    val d = Skipping.appendStatsManifest(spark, data, mf)
    assert(d.profiledFiles === 0 && d.droppedFiles === 0 &&
      d.totalFiles === n)
    // and pruning on a partition column itself works
    val pp = Skipping.writeStatsManifest(spark, data, Seq("part"), mf)
    assert(pp === n)
    val byPart = Skipping.read(spark, data, mf,
      Seq(ColumnRange("part", Some(3L), None)))
    assert(byPart.count() === 250)
    assert(byPart.inputFiles.length < n)
  }

  test("footer-derived manifest is bit-identical to the scan-derived one") {
    val (data, mfScan) = freshDirs()
    val mfFoot = mfScan + "_foot"
    // every supported family in one table: long, double, DECIMAL (int64-
    // and binary-backed), string, date — plus nulls in each
    val df = corpus()
      .withColumn("v", when(col("id") % 7 === 0, lit(null))
        .otherwise(col("v")))
      .withColumn("f", (col("id") * 1.5).cast("double"))
      .withColumn("dec_s", col("id").cast("decimal(12,2)"))
      .withColumn("dec_b", (col("id") * 7).cast("decimal(30,4)"))
      .withColumn("s", when(col("id") % 11 === 0, lit(null))
        .otherwise(col("s")))
      .withColumn("t", expr("timestamp_micros(id * 98765432109)"))
      // non-ASCII mix: Spark's UTF8String order and parquet's BINARY
      // stats comparator are BOTH unsigned byte-wise — a signed compare
      // on either side would order the high-byte strings first
      .withColumn("u", concat(
        when(col("id") % 3 === 0, lit("żebra-")).otherwise(lit("zebra-")),
        when(col("id") % 5 === 0, lit("日本")).otherwise(col("s"))))
    Layout.rangeSortedWrite(df, col("id"), data, numFiles = 6,
      tiebreak = Seq(col("id")))
    val cols = Seq("id", "v", "f", "dec_s", "dec_b", "s", "d", "t", "u")
    Skipping.writeStatsManifest(spark, data, cols, mfScan)
    assert(Skipping.writeStatsManifestFromFooters(spark, data, cols,
      mfFoot) === 6L)
    def canon(mf: String) = spark.read.parquet(mf)
      .withColumn("file", Skipping.pathKeyCol(col("file")))
      .orderBy("file", "column")
      .collect().map(_.toSeq).toSeq
    assert(canon(mfFoot) === canon(mfScan),
      "footer stats must byte-replay the scan profiler")
    // and the footer manifest PRUNES identically
    val p = Skipping.pruneFiles(spark, data, mfFoot,
      Seq(ColumnRange("id", Some(100L), Some(299L))))
    assert(p.readFiles <= 2 && p.unlistedFiles === 0)
  }

  test("write-time manifest emission: the layout writers produce the " +
    "manifest the pruned read consumes") {
    val (data, mf) = freshDirs()
    Layout.rangeSortedWrite(corpus(), col("id"), data, numFiles = 10,
      tiebreak = Seq(col("id")),
      statsManifest = Some(mf), statsCols = Seq("id", "d"))
    val got = Skipping.read(spark, data, mf,
      Seq(ColumnRange("id", Some(100L), Some(299L))))
    assert(got.count() === 200)
    assert(got.inputFiles.length <= 3)
    // z-order: both interleaved dimensions prune through the emitted manifest
    val (data2, mf2) = freshDirs()
    Layout.zorderWrite(corpus(), Seq(col("id"), col("v")), data2,
      numFiles = 16, statsManifest = Some(mf2), statsCols = Seq("id", "v"))
    val byId = Skipping.pruneFiles(spark, data2, mf2,
      Seq(ColumnRange("id", Some(0L), Some(63L))))
    val byV = Skipping.pruneFiles(spark, data2, mf2,
      Seq(ColumnRange("v", Some(0L), Some(63L))))
    assert(byId.readFiles < 16 && byV.readFiles < 16,
      s"z-order must prune on BOTH dims: id=${byId.readFiles} v=${byV.readFiles}")
    assert(Skipping.read(spark, data2, mf2,
      Seq(ColumnRange("v", Some(0L), Some(63L)))).count() ===
      spark.read.parquet(data2).filter(col("v").between(0, 63)).count())
  }

  test("emitManifest falls back to the scan path for partition columns") {
    val (data, mf) = freshDirs()
    corpus().withColumn("part", (col("id") / 500).cast("int"))
      .repartition(col("part"))
      .write.partitionBy("part").parquet(data)
    intercept[UnsupportedOperationException] {
      Skipping.writeStatsManifestFromFooters(spark, data,
        Seq("part"), mf)
    }
    val n = Skipping.emitManifest(spark, data, Seq("part", "id"), mf)
    assert(n >= 2L)
    assert(Skipping.read(spark, data, mf,
      Seq(ColumnRange("part", Some(1L), None))).count() === 500)
  }

  test("timestamp ranges prune; a date-string bound never drops the " +
    "midnight row its cast semantics keep") {
    val (data, mf) = freshDirs()
    // one row per hour over ~42 days; files split INSIDE days, so a
    // day-range's boundary files hold midnight rows — the prefix trap
    val df = spark.range(0, 1000).select(col("id"),
      expr("timestamp_micros(id * 3600000000 + " +
        "unix_micros(timestamp '1995-06-01 00:00:00'))").as("t"))
    Layout.rangeSortedWrite(df, col("t"), data, numFiles = 10,
      tiebreak = Seq(col("id")))
    assert(Skipping.writeStatsManifest(spark, data, Seq("t"), mf) === 10L)
    assert(spark.read.parquet(mf).select("family").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("ts"))
    // [day2, day4) expressed as the YAML seam does: inclusive
    // date-string hull, exact row filter downstream
    val ranges = Seq(ColumnRange("t", Some("1995-06-02"), Some("1995-06-04")))
    val got = Skipping.read(spark, data, mf, ranges)
    val want = spark.read.parquet(data)
      .filter(col("t") >= "1995-06-02" && col("t") <= "1995-06-04")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "pruned read must equal the full cast-semantics filter")
    assert(got.count() === 49) // 48 hours + the 06-04 midnight row
    assert(got.inputFiles.length < 10, "day range must prune files")
    // full-form timestamp bounds prune too
    val tight = Skipping.read(spark, data, mf,
      Seq(ColumnRange("t", Some("1995-06-02 00:00:00"),
        Some("1995-06-02 23:00:00"))))
    assert(tight.count() === 24)
    assert(tight.inputFiles.length <= 2)
  }

  test("IN-list pruning reads ~one file per probe, not the range hull") {
    val (data, mf) = freshDirs()
    Layout.rangeSortedWrite(corpus(), col("id"), data, numFiles = 10,
      tiebreak = Seq(col("id")),
      statsManifest = Some(mf), statsCols = Seq("id", "s"))
    val keys = Seq(5L, 500L, 995L)
    val pIn = Skipping.pruneFiles(spark, data, mf,
      Seq(Skipping.ColumnIn("id", keys)))
    val pHull = Skipping.pruneFiles(spark, data, mf,
      Seq(ColumnRange("id", Some(5L), Some(995L))))
    assert(pHull.readFiles === 10, "the hull spans every file")
    assert(pIn.readFiles <= 3, s"3 probes must read <=3 files, " +
      s"got ${pIn.readFiles}")
    val got = Skipping.read(spark, data, mf,
      Seq(Skipping.ColumnIn("id", keys)))
    assert(got.count() === 3)
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq === keys)
    // string IN-list, and conjunction with a range
    val both = Skipping.read(spark, data, mf,
      Seq(Skipping.ColumnIn("s", Seq("k0005", "k0500", "k0995")),
        ColumnRange("id", Some(400L), None)))
    assert(both.count() === 2)
    assert(both.inputFiles.length <= 2)
  }

  test("in-plan path key matches pathKey on every URI spelling") {
    import spark.implicits._
    val uris = Seq(
      "s3a://bucket/warehouse/t/part-0.parquet",
      "hdfs://namenode:8020/data/t/part-0.parquet",
      "file:/tmp/t/part-0.parquet",
      "file:///tmp/t/part-0.parquet",
      "/tmp/t/part-0.parquet",
      "gs://b/p=1/part-0.parquet")
    val inPlan = uris.toDF("file")
      .select(Skipping.pathKeyCol(col("file")))
      .collect().map(_.getString(0)).toSeq
    assert(inPlan === uris.map(Skipping.pathKey),
      "pathKeyCol must stay value-equal to pathKey or appendStatsManifest " +
        "silently discards profiled rows on authority-bearing filesystems")
  }

  test("maintainManifest: first call builds, later calls delta-refresh " +
      "with inherited columns; always equals a full rebuild") {
    val (data, mf) = freshDirs()
    corpus().filter(col("id") < 500).coalesce(2)
      .write.mode("append").parquet(data)
    val d1 = Skipping.maintainManifest(spark, data, mf, Seq("id"))
    assert(d1.droppedFiles === 0 && d1.profiledFiles === d1.totalFiles.toInt)
    corpus().filter(col("id") >= 500).coalesce(3)
      .write.mode("append").parquet(data)
    // no cols on the refresh call: inherited from the manifest itself
    val d2 = Skipping.maintainManifest(spark, data, mf)
    assert(d2.droppedFiles === 0)
    assert(d2.profiledFiles === (d2.totalFiles - d1.totalFiles).toInt,
      "refresh profiles exactly the appended files")
    assert(d2.profiledFiles >= 1)
    val rebuilt = s"${data}_rebuilt_mf"
    Skipping.writeStatsManifest(spark, data, Seq("id"), rebuilt)
    val got = spark.read.parquet(mf).collect().map(_.toSeq).toSet
    val want = spark.read.parquet(rebuilt).collect().map(_.toSeq).toSet
    assert(got === want, "build + delta ticks must equal the rebuild")
    // a first build with no columns fails loud, not silently empty
    val err = intercept[IllegalArgumentException] {
      Skipping.maintainManifest(spark, data, s"${data}_none")
    }
    assert(err.getMessage.contains("stats_cols"))
  }

  test("compactIncrements statsManifest tick: rewritten increments stay " +
      "listed, and prune") {
    val (root, mf) = freshDirs()
    corpus().filter(col("id") < 500).repartition(4)
      .write.parquet(s"$root/inc_20240101_000000_a")
    corpus().filter(col("id") >= 500).repartition(4)
      .write.parquet(s"$root/inc_20240102_000000_b")
    Skipping.writeStatsManifest(spark, root, Seq("id"), mf)
    val r = Maintenance.compactIncrements(spark, root,
      targetFileBytes = 1L << 30, keepLatest = 0,
      statsManifest = Some(mf))
    assert(r.dirsCompacted === 2 && r.filesAfter === 2)
    val pr = Skipping.pruneFiles(spark, root, mf,
      Seq(ColumnRange("id", Some(0L), Some(49L))))
    assert(pr.unlistedFiles === 0,
      "the composed tick must re-profile every rewritten file")
    assert(pr.readFiles === 1, "post-compaction bounds stay tight")
    val got = Skipping.read(spark, root, mf,
      Seq(ColumnRange("id", Some(0L), Some(49L))))
    assert(got.count() === 50)
  }

  test("footer-bloom pruning: IN-probes on an unclustered column drop " +
      "files; missing blooms and absent values stay conservative") {
    val (data, mf) = freshDirs()
    // cluster on id; v is id*7 % 1000 — every file's v-hull spans the
    // domain, so min/max ranges exclude NOTHING for a v point probe
    Layout.rangeSortedWrite(corpus(), col("id"), data, numFiles = 10,
      tiebreak = Seq(col("id")), statsManifest = Some(mf),
      statsCols = Seq("id"), bloomCols = Seq("v", "s"),
      bloomNdv = 2000L)
    // v = 7 exists only where id = 1 (id*7 % 1000 == 7 within one file)
    val probe = Seq(Skipping.ColumnIn("v", Seq(7L)))
    val noBloom = Skipping.pruneFiles(spark, data, mf, probe)
    assert(noBloom.readFiles === 10,
      "ranges alone cannot exclude an unclustered point probe")
    val withBloom = Skipping.pruneFiles(spark, data, mf, probe,
      footerBlooms = true)
    assert(withBloom.readFiles < 10,
      s"blooms must drop files: read ${withBloom.readFiles} of 10")
    val got = Skipping.read(spark, data, mf, probe, footerBlooms = true)
    val want = spark.read.parquet(data).filter(col("v") === 7L)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // string column probes hash as Binary
    val sGot = Skipping.read(spark, data, mf,
      Seq(Skipping.ColumnIn("s", Seq("k0042"))), footerBlooms = true)
    assert(sGot.count() === 1L)
    assert(sGot.inputFiles.length < 10)
    // a value absent from the corpus reads zero files through the blooms
    val absent = Skipping.pruneFiles(spark, data, mf,
      Seq(Skipping.ColumnIn("v", Seq(1000001L))), footerBlooms = true)
    assert(absent.readFiles === 0 ||
      absent.readFiles < withBloom.readFiles) // FPs allowed, only fewer
    // bloomless layout whose probed column is PLAIN-encoded (unique
    // values per file — parquet skips the dictionary): no exact
    // membership structure exists, footerBlooms degrades to no pruning
    val (d2, m2) = freshDirs()
    Layout.rangeSortedWrite(corpus(), col("id"), d2, numFiles = 10,
      tiebreak = Seq(col("id")), statsManifest = Some(m2),
      statsCols = Seq("id"))
    val cons = Skipping.pruneFiles(spark, d2, m2, probe,
      footerBlooms = true)
    assert(cons.readFiles === 10,
      "no blooms and no dictionary -> every candidate survives")
    // DICTIONARY fallback: still no blooms, but repeated values make
    // parquet dictionary-encode the chunk — and parquet deliberately
    // SKIPS blooms on all-dictionary chunks, so the dictionary page
    // itself answers membership EXACTLY (no write-side config at all)
    val (d3, m3) = freshDirs()
    val c3 = corpus().withColumn("w", (col("id") / lit(100)).cast("long"))
    Layout.rangeSortedWrite(c3, col("id"), d3, numFiles = 10,
      tiebreak = Seq(col("id")), statsManifest = Some(m3),
      statsCols = Seq("id"))
    val dGot = Skipping.read(spark, d3, m3,
      Seq(Skipping.ColumnIn("w", Seq(3L))), footerBlooms = true)
    assert(dGot.count() === 100)
    assert(dGot.inputFiles.length <= 2,
      s"dictionary membership must prune: read ${dGot.inputFiles.length}")
  }

  test("footer-bloom pruning: annotated physical types (decimal) stay " +
      "conservative — wrong-typed probes never drop a matching file") {
    val (data, mf) = freshDirs()
    // DecimalType(9,2) stores UNSCALED INT32 (42.00 -> 4200): an exact-
    // membership probe typed as Long 42 would hash/compare the wrong
    // representation. statsFamilies maps decimals to 'dbl', so the column
    // IS a valid skip column — the bloom/dictionary paths must detect the
    // Decimal annotation and fall back to "might hold", never drop.
    val c = corpus()
      .withColumn("dec", col("id").cast("decimal(9,2)"))        // unique: bloom
      .withColumn("dgrp", floor(col("id") / lit(100)).cast("decimal(9,2)")) // repeated: dict
    Layout.rangeSortedWrite(c, col("id"), data, numFiles = 10,
      tiebreak = Seq(col("id")), statsManifest = Some(mf),
      statsCols = Seq("id"), bloomCols = Seq("dec", "s"), bloomNdv = 2000L)
    // BLOOM branch: row filter dec IN (42) matches 42.00 — the read must
    // return it even though the bloom hashed unscaled 4200 at write time
    val bGot = Skipping.read(spark, data, mf,
      Seq(Skipping.ColumnIn("dec", Seq(42L))), footerBlooms = true)
    assert(bGot.count() === 1L,
      "decimal bloom probe must degrade to no pruning, not drop the row")
    // DICTIONARY branch: dgrp is all-dictionary (parquet skips its bloom);
    // decodeToInt would yield unscaled 300 for 3.00 — must stay conservative
    val dGot = Skipping.read(spark, data, mf,
      Seq(Skipping.ColumnIn("dgrp", Seq(3L))), footerBlooms = true)
    assert(dGot.count() === 100L,
      "decimal dictionary probe must degrade to no pruning")
    // value-transparent columns in the SAME layout still prune exactly
    // (the gate is per-column, not a global fallback)
    val sGot = Skipping.read(spark, data, mf,
      Seq(Skipping.ColumnIn("s", Seq("k0042"))), footerBlooms = true)
    assert(sGot.count() === 1L && sGot.inputFiles.length < 10)
    // large IN-list over a dictionary-encoded long column exercises the
    // decode-once hash-set path (|values|·|dict| above the linear bound)
    val (d2, m2) = freshDirs()
    val c2 = corpus().withColumn("w", (col("id") / lit(100)).cast("long"))
    Layout.rangeSortedWrite(c2, col("id"), d2, numFiles = 10,
      tiebreak = Seq(col("id")), statsManifest = Some(m2),
      statsCols = Seq("id"))
    val big = (3L +: (1000L to 1998L)).toSeq // one present, 999 absent
    val inGot = Skipping.read(spark, d2, m2,
      Seq(Skipping.ColumnIn("w", big)), footerBlooms = true)
    assert(inGot.count() === 100L)
    assert(inGot.inputFiles.length <= 2,
      s"hash-set dictionary probe must still prune: ${inGot.inputFiles.length}")
    graft.PlanAudit.assertClean("bloom-pruned IN read", inGot)
  }

  test("ColumnNotNull prunes all-null files; stats-fallback files stay " +
      "read") {
    val (data, mf) = freshDirs()
    // e is populated only for id < 300 — clustered on id, files past
    // the boundary hold ONLY nulls in e
    val c = corpus().withColumn("e",
      when(col("id") < 300, col("id") * 2).otherwise(lit(null).cast("long")))
    Layout.rangeSortedWrite(c, col("id"), data, numFiles = 10,
      tiebreak = Seq(col("id")))
    Skipping.writeStatsManifest(spark, data, Seq("id", "e"), mf)
    val pr = Skipping.pruneFiles(spark, data, mf,
      Seq(Skipping.ColumnNotNull("e")))
    assert(pr.readFiles <= 4,
      s"all-null files must drop: read ${pr.readFiles} of 10")
    val got = Skipping.read(spark, data, mf,
      Seq(Skipping.ColumnNotNull("e")))
    assert(got.count() === 300)
    assert(got.filter(col("e").isNull).isEmpty)
    // composes with a range conjunct on another column
    val both = Skipping.read(spark, data, mf,
      Seq(Skipping.ColumnNotNull("e"),
        ColumnRange("id", Some(100L), Some(999L))))
    assert(both.count() === 200)
    // YAML shape: not_null parses and routes to ColumnNotNull
    val ds = graft.core.model.DatasetSpec(path = data,
      skipManifest = Some(mf),
      skipRanges = Seq(graft.core.model.SkipRange("e", notNull = true)))
    assert(Reader.skipPredicates(ds, None) ===
      Seq(Skipping.ColumnNotNull("e")))
  }

  test("sharded manifest: a tick rewrites only the affected shards; " +
      "legacy flat manifests migrate; drifted shard counts re-shard") {
    val prev = Skipping.manifestFilesPerShard
    Skipping.manifestFilesPerShard = 4L
    try {
      val (data, mf) = freshDirs()
      Layout.rangeSortedWrite(corpus(), col("id"), data, numFiles = 40,
        tiebreak = Seq(col("id")))
      Skipping.writeStatsManifest(spark, data, Seq("id"), mf)
      val fs = new org.apache.hadoop.fs.Path(mf)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def shardFiles(dir: String): Map[String, Set[String]] =
        fs.listStatus(new org.apache.hadoop.fs.Path(dir))
          .filter(_.getPath.getName.startsWith("shard="))
          .map(s => s.getPath.getName ->
            fs.listStatus(s.getPath).map(_.getPath.getName).toSet)
          .toMap
      val shards0 = shardFiles(mf)
      // the pinned count is the invariant; shard=k DIRS exist only for
      // non-empty shards, and with 40 random part-file names hashed
      // into 10 shards, one shard is empty in ~15% of runs (10·0.9⁴⁰)
      // — asserting 10 dirs made this spec a coin flip
      assert(Skipping.pinnedShards(spark, mf) === Some(10),
        "40 files / 4 -> 10 shards pinned")
      assert(shards0.size >= 7 && shards0.size <= 10,
        s"shard dirs = non-empty shards only: $shards0")
      // two appended data files -> a tick that touches <= 2 shards;
      // every other shard dir must be BYTE-UNTOUCHED (same part files)
      corpus().filter(col("id") < 10).coalesce(1)
        .write.mode("append").parquet(data)
      corpus().filter(col("id") >= 990).coalesce(1)
        .write.mode("append").parquet(data)
      val d = Skipping.appendStatsManifest(spark, data, mf)
      assert(d.profiledFiles === 2 && d.droppedFiles === 0)
      val shards1 = shardFiles(mf)
      val changed = shards0.keySet.filter(k => shards0(k) != shards1(k))
      assert(changed.nonEmpty && changed.size <= 2,
        s"a 2-file tick must rewrite <= 2 shards, rewrote $changed")
      // the ticked manifest equals a fresh rebuild (same shard count)
      val mf2 = s"${data}_rebuild_mf"
      Skipping.writeStatsManifest(spark, data, Seq("id"), mf2)
      assert(spark.read.parquet(mf).collect().map(_.toSeq).toSet ===
        spark.read.parquet(mf2).collect().map(_.toSeq).toSet)
      // pruning reads the sharded layout transparently
      val pr = Skipping.pruneFiles(spark, data, mf,
        Seq(ColumnRange("id", Some(0L), Some(24L))))
      assert(pr.unlistedFiles === 0 && pr.readFiles < 42)
      // LEGACY FLAT manifest (pre-shard layout): first tick migrates
      val flat = s"${data}_flat_mf"
      spark.read.parquet(mf).drop("shard").coalesce(1)
        .write.parquet(flat)
      corpus().filter(col("id") === 500).coalesce(1)
        .write.mode("append").parquet(data)
      val dm = Skipping.appendStatsManifest(spark, data, flat)
      assert(dm.profiledFiles === 1)
      assert(Skipping.pinnedShards(spark, flat).nonEmpty,
        "migration tick must pin the shard count")
      assert(shardFiles(flat).nonEmpty)
      assert(Skipping.pinnedShards(spark, flat) === Some(10))
      // RE-SHARD: pinned 10 vs a 4x-drifted target forces a full rewrite
      Skipping.manifestFilesPerShard = 1L // target = 43 > 4 * 10
      corpus().filter(col("id") === 7).coalesce(1)
        .write.mode("append").parquet(data)
      Skipping.appendStatsManifest(spark, data, mf)
      assert(Skipping.pinnedShards(spark, mf) === Some(44))
      val finalRead = Skipping.read(spark, data, mf,
        Seq(ColumnRange("id", Some(0L), Some(999L))))
      assert(finalRead.count() === corpus().count() + 10 + 10 + 1 + 1)
      // the global anti-pattern sweep, applied where the side-effect
      // surface actually runs (this family is not in the batch roster)
      graft.PlanAudit.assertClean("sharded-manifest read", finalRead)
    } finally Skipping.manifestFilesPerShard = prev
  }

  test("manifest survives compaction: rewritten files read as unlisted") {
    val (data, mf) = freshDirs()
    Layout.rangeSortedWrite(corpus(), col("id"), data, numFiles = 8,
      tiebreak = Seq(col("id")))
    Skipping.writeStatsManifest(spark, data, Seq("id"), mf)
    Maintenance.compactParquet(spark, data, targetFileBytes = 1L << 30)
    val ranges = Seq(ColumnRange("id", Some(0L), Some(49L)))
    val got = Skipping.read(spark, data, mf, ranges)
    assert(got.count() === 50, "post-compaction reads fall back to " +
      "conservative full coverage, never lose rows")
  }
}
