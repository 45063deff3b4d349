package graft.core.io

import graft.SparkSpec
import graft.core.model.{DatasetSpec, JobSpec}
import graft.engine.MultiPass
import org.apache.hadoop.fs.Path
import org.apache.spark.JobCount
import org.apache.spark.sql.functions._

/** The stats-manifest tick's metadata costs no Spark job: the pin and the
  * profiled columns come from the `_meta.json` written after the shard
  * data, and the totals are counted on the driver. These specs pin the
  * job budget of a tick and of a landed period, the heal of a manifest
  * without meta (legacy or cut before its meta write), and the
  * driver-side totals against a recount.
  */
class ManifestTickSpec extends SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_tick").toString
    (s"$root/data", s"$root/manifest")
  }

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One parquet file of ids `[lo, hi)` appended under `data`. */
  private def addFile(data: String, lo: Long, hi: Long): Unit =
    spark.range(lo, hi).select(col("id"), (col("id") % 7).as("v"))
      .coalesce(1).write.mode("append").parquet(data)

  private def rowSet(mf: String): Set[Seq[Any]] =
    spark.read.parquet(mf).collect().map(_.toSeq).toSet

  private def withShardSize[T](n: Long)(body: => T): T = {
    val prev = Skipping.manifestFilesPerShard
    Skipping.manifestFilesPerShard = n
    try body finally Skipping.manifestFilesPerShard = prev
  }

  private val dataSourceLogger =
    "org.apache.spark.sql.execution.datasources.DataSource"

  /** The WARN lines Spark's DataSource logger emits during `body` (its
    * level forced to WARN so a quieter session level cannot hide them).
    */
  private def dataSourceWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("tick-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger(dataSourceLogger)
    logger.addAppender(app)
    Configurator.setLevel(dataSourceLogger, Level.WARN)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally {
      logger.removeAppender(app)
      app.stop()
    }
  }

  test("a 1-shard tick of one new file runs <= 3 jobs and warns nothing") {
    val (data, mf) = freshDirs()
    (0 until 3).foreach(i => addFile(data, i * 100L, i * 100L + 100))
    Skipping.maintainManifest(spark, data, mf, Seq("id", "v"))
    assert(Skipping.pinnedShards(spark, mf) === Some(1))
    addFile(data, 300L, 400L)
    val ((delta, jobs), warnings) = dataSourceWarnings {
      // the capture itself works: a WARN on the logger is seen
      org.apache.logging.log4j.LogManager.getLogger(dataSourceLogger)
        .warn("capture probe")
      JobCount(spark.sparkContext)(Skipping.appendStatsManifest(spark, data, mf))
    }
    info(s"tick: $jobs Spark jobs")
    assert(delta === Skipping.ManifestDelta(1, 0, 4L))
    assert(jobs <= 3, s"a 1-shard tick of one new file ran $jobs Spark jobs")
    assert(warnings.contains("capture probe"))
    assert(!warnings.exists(_.contains("All paths were ignored")),
      s"the tick logged: $warnings")
    val mf2 = s"${data}_rebuild_mf"
    Skipping.writeStatsManifestFromFooters(spark, data, Seq("id", "v"), mf2)
    assert(rowSet(mf) === rowSet(mf2))
  }

  test("a landed period from a skip_manifest input into a stats_manifest " +
      "sink runs <= 8 jobs") {
    val root = java.nio.file.Files.createTempDirectory("graft_land").toString
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    // one file per day, as the skip manifest prunes by file
    days.zipWithIndex.foreach { case (d, i) =>
      val t0 = java.time.LocalDate.parse(d).toEpochDay * 86400L
      spark.range(0, 500).select((col("id") + i * 500).as("event_id"),
          timestamp_seconds(col("id") * 97 % 86400 + t0).as("ts"),
          (col("id") % 50).as("user_key"), (col("id") % 10).cast("int").as("qty"))
        .coalesce(1).write.mode("append").parquet(s"$root/raw")
    }
    Skipping.emitManifest(spark, s"$root/raw", Seq("ts"), s"$root/raw_mf")
    val job = JobSpec(name = "land_events",
      inputs = Map("events" -> DatasetSpec(path = s"$root/raw",
        incField = Some("ts"), skipManifest = Some(s"$root/raw_mf"))),
      output = Some(DatasetSpec(path = s"$root/land", incField = Some("ts"),
        statsManifest = Some(s"$root/land_mf"), statsCols = Seq("ts", "user_key"))),
      sql = Some("SELECT event_id, ts, user_key, qty FROM events WHERE qty > 0"))
    def day(i: Int) = java.time.LocalDate.parse(days(i))
    // the first period builds the sink's manifest; the second ticks it
    val built = MultiPass.run(spark, job, day(0), day(0), now = "r1")
    val (landed, jobs) = JobCount(spark.sparkContext)(
      MultiPass.run(spark, job, day(1), day(1), now = "r1"))
    info(s"landed period: $jobs Spark jobs")
    assert(built.map(_.rows) === Seq(450L) && landed.map(_.rows) === Seq(450L))
    assert(jobs <= 8, s"a landed period ran $jobs Spark jobs")
    assert(spark.read.parquet(landed.head.path.get).count() === 450L)
  }

  test("a manifest pinned by a legacy _shards parquet heals into the meta " +
      "on its first tick") {
    withShardSize(4L) {
      val (data, mf) = freshDirs()
      (0 until 12).foreach(i => addFile(data, i * 10L, i * 10L + 10))
      Skipping.writeStatsManifest(spark, data, Seq("id", "v"), mf)
      assert(Skipping.pinnedShards(spark, mf) === Some(3))
      // the pre-meta layout: the count pinned in a one-row parquet
      fs.delete(new Path(mf, "_meta.json"), true)
      Seq(3).toDF("num_shards").coalesce(1).write.parquet(s"$mf/_shards")
      assert(Skipping.pinnedShards(spark, mf) === None)
      // a tick with nothing to land still heals: one full rewrite
      val before = rowSet(mf)
      assert(Skipping.appendStatsManifest(spark, data, mf) ===
        Skipping.ManifestDelta(0, 0, 12L))
      assert(Skipping.pinnedShards(spark, mf) === Some(3))
      assert(!fs.exists(new Path(mf, "_shards")))
      assert(rowSet(mf) === before)
      // and so does a legacy tick that lands a file
      fs.delete(new Path(mf, "_meta.json"), true)
      Seq(3).toDF("num_shards").coalesce(1).write.parquet(s"$mf/_shards")
      addFile(data, 500L, 510L)
      assert(Skipping.appendStatsManifest(spark, data, mf) ===
        Skipping.ManifestDelta(1, 0, 13L))
      assert(Skipping.pinnedShards(spark, mf) === Some(3))
      val mf2 = s"${data}_rebuild_mf"
      Skipping.writeStatsManifest(spark, data, Seq("id", "v"), mf2)
      assert(Skipping.pinnedShards(spark, mf2) === Some(3))
      assert(rowSet(mf) === rowSet(mf2))
    }
  }

  test("a build cut between its shard write and its meta write heals on " +
      "the next tick") {
    withShardSize(4L) {
      val (data, mf) = freshDirs()
      (0 until 12).foreach(i => addFile(data, i * 10L, i * 10L + 10))
      Skipping.writeStatsManifest(spark, data, Seq("id", "v"), mf)
      val built = rowSet(mf)
      fs.delete(new Path(mf, "_meta.json"), true) // the cut
      // no file changed, and still the tick heals
      assert(Skipping.appendStatsManifest(spark, data, mf) ===
        Skipping.ManifestDelta(0, 0, 12L))
      assert(Skipping.pinnedShards(spark, mf) === Some(3))
      val mf2 = s"${data}_rebuild_mf"
      Skipping.writeStatsManifest(spark, data, Seq("id", "v"), mf2)
      assert(rowSet(mf) === rowSet(mf2) && rowSet(mf) === built)
      assert(Skipping.pruneFiles(spark, data, mf,
        Seq(Skipping.ColumnRange("id", Some(0L), Some(9L)))).readFiles === 1)
    }
  }

  test("totalFiles after adding and dropping ticks equals a recount") {
    withShardSize(4L) {
      val (data, mf) = freshDirs()
      (0 until 8).foreach(i => addFile(data, i * 10L, i * 10L + 10))
      // the reference: the files the manifest holds, recounted by Spark
      def recount(): Long =
        spark.read.parquet(mf).select("file").distinct().count()
      val built = Skipping.maintainManifest(spark, data, mf, Seq("id"))
      assert(built.totalFiles === recount())
      def dropOne(): Unit = {
        val f = fs.listStatus(new Path(data))
          .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
        fs.delete(f, false)
        fs.delete(new Path(f.getParent, s".${f.getName}.crc"), false)
      }
      addFile(data, 100L, 110L); addFile(data, 110L, 120L)
      val added = Skipping.appendStatsManifest(spark, data, mf)
      assert(added.profiledFiles === 2 && added.totalFiles === recount())
      dropOne()
      val (dropped, jobs) = JobCount(spark.sparkContext)(
        Skipping.appendStatsManifest(spark, data, mf))
      info(s"a tick dropping one file: $jobs Spark jobs")
      assert(dropped.droppedFiles === 1 && dropped.totalFiles === recount())
      dropOne(); dropOne(); addFile(data, 120L, 130L)
      val both = Skipping.appendStatsManifest(spark, data, mf)
      assert(both.profiledFiles === 1 && both.droppedFiles === 2)
      assert(both.totalFiles === recount() && both.totalFiles === 8L)
      // the vanished files' rows are gone, the kept files' rows stay
      val mf2 = s"${data}_rebuild_mf"
      Skipping.writeStatsManifest(spark, data, Seq("id"), mf2)
      assert(rowSet(mf) === rowSet(mf2))
      // a tick with nothing to land reports the same total
      assert(Skipping.appendStatsManifest(spark, data, mf).totalFiles === 8L)
    }
  }

  test("a pruned read's file prune runs 1 job") {
    withShardSize(4L) {
      val (data, mf) = freshDirs()
      (0 until 12).foreach(i => addFile(data, i * 10L, i * 10L + 10))
      Skipping.maintainManifest(spark, data, mf, Seq("id", "v"))
      addFile(data, 500L, 510L) // unlisted: read conservatively
      val ranges = Seq(Skipping.ColumnRange("id", Some(15L), Some(34L)),
        Skipping.ColumnRange("v", Some(0L), Some(6L)))
      val (pruned, jobs) = JobCount(spark.sparkContext)(
        Skipping.pruneFiles(spark, data, mf, ranges))
      info(s"prune: $jobs Spark jobs")
      assert(jobs === 1, s"the prune ran $jobs Spark jobs")
      assert(pruned.readFiles === 4 && pruned.manifestFiles === 12 &&
        pruned.unlistedFiles === 1)
    }
  }
}
