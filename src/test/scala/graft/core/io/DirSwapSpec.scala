package graft.core.io

import java.io.File
import graft.SparkSpec
import graft.core.io.Skipping.ColumnRange
import graft.ops.Layout
import graft.streaming.Streams
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The five whole-directory rewrites — `compactParquet`, `compactZorder`,
  * `compactClusters`, `applyScd2Batch` and the stats-manifest full
  * rewrite — driven through their [[DirSwap]] with a crash injected
  * before EACH step ([[CrashSeam.onStep]]). After each crash the
  * directory is reopened (the reader's heal) and checked to show the
  * state before the rewrite or after it; the rewrite is then re-run and
  * must land on the uninterrupted result with no hidden staged or aside
  * copy left. Leftovers planted under each swap's hidden names — an
  * orphaned aside copy with the live directory gone, or stale staged and
  * aside copies beside it — must heal the same way on the next run.
  */
class DirSwapSpec extends SparkSpec {
  import spark.implicits._

  private final class Crash(step: String)
      extends RuntimeException(s"injected crash before: $step")

  private def withHook[T](hook: String => Unit)(body: => T): T = {
    CrashSeam.onStep = hook
    try body finally CrashSeam.onStep = _ => ()
  }

  private def stepsOf(body: => Unit): Seq[String] = {
    val seen = Seq.newBuilder[String]
    withHook(seen += _)(body)
    seen.result()
  }

  private def crashAt(k: Int)(body: => Unit): Unit = {
    var n = 0
    withHook { s => if (n == k) throw new Crash(s); n += 1 } {
      intercept[Crash](body)
    }
  }

  private def crashBefore(step: String)(body: => Unit): Unit =
    withHook(s => if (s.startsWith(step)) throw new Crash(s)) {
      intercept[Crash](body)
    }

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def parquetFiles(dir: String): Int =
    new File(dir).listFiles().count(_.getName.endsWith(".parquet"))

  private def junk(p: Path): Unit = {
    val out = fs.create(new Path(p, "junk"), true)
    out.write(1); out.close()
  }

  /** One rewrite over a fixture built once under `work`; every run
    * starts from a copy of it at the same place (manifests store
    * absolute file paths).
    */
  private abstract class Rewrite(prefix: String) {
    val work: String = java.nio.file.Files.createTempDirectory(prefix).toString
    private lazy val pristine = {
      build()
      FileUtils.copyDirectory(new File(work), new File(s"${work}_pristine"))
      s"${work}_pristine"
    }
    def reset(): Unit = {
      val from = pristine
      FileUtils.deleteDirectory(new File(work))
      FileUtils.copyDirectory(new File(from), new File(work))
    }
    def build(): Unit
    def run(): Unit
    /** The swap the rewrite replaces its directory through. */
    def swap: DirSwap
    /** A reader's open; the directory's own reader where it heals. */
    def reopen(): Unit = swap.heal(): Unit
    def visible(): Seq[String]
  }

  private def leftovers(r: Rewrite): Seq[Path] =
    Seq(r.swap.staged, r.swap.aside).filter(fs.exists)

  private def stepNames(labels: Seq[String]): Seq[String] =
    labels.map(_.replaceAll(" \\S*/.*$", ""))

  /** Crash `r` before each of its steps, then plant each leftover kind;
    * returns the step names.
    */
  private def everyStep(r: Rewrite): Seq[String] = {
    r.reset()
    val pre = r.visible()
    val labels = stepsOf(r.run())
    val post = r.visible()
    assert(pre != post, "the rewrite must change what the spec observes")
    assert(leftovers(r).isEmpty, s"uninterrupted run left ${leftovers(r)}")
    def rerun(what: String): Unit = {
      r.run()
      assert(r.visible() == post, s"$what, then re-run: state differs " +
        "from an uninterrupted run")
      assert(leftovers(r).isEmpty, s"$what, then re-run: left ${leftovers(r)}")
    }
    labels.indices.foreach { k =>
      r.reset()
      crashAt(k)(r.run())
      r.reopen()
      val v = r.visible()
      assert(v == pre || v == post, s"crashed before ${labels(k)}: the " +
        s"reopened state matches neither the pre- nor the post-rewrite state: $v")
      rerun(s"crashed before ${labels(k)}")
    }
    r.reset()
    junk(r.swap.staged); junk(r.swap.aside)
    rerun("stale staged and aside copies planted")
    r.reset()
    assert(fs.rename(r.swap.live, r.swap.aside))
    junk(r.swap.staged)
    rerun("live directory planted aside as an orphan")
    stepNames(labels)
  }

  private val swapSteps = Seq("stage", "move aside", "rename in", "drop aside")

  private def parquetRewrite() = new Rewrite("graft_swap_compact") {
    val data = s"$work/data"
    def build(): Unit = {
      spark.range(0, 60).select(col("id"), (col("id") % 7).as("v"))
        .repartition(6).write.parquet(data)
      val out = fs.create(new Path(data, "_schema.json"), true)
      out.write("{}".getBytes("UTF-8")); out.close()
    }
    def run(): Unit = Maintenance.compactParquet(spark, data): Unit
    def swap = DirSwap.hidden(fs, new Path(data), "_compact")
    def visible() = rows(spark.read.parquet(data)) :+
      s"files=${parquetFiles(data)}" :+
      s"sidecar=${new File(data, "_schema.json").exists}"
  }

  private def zorderRewrite() = new Rewrite("graft_swap_zorder") {
    val dir = s"$work/part"
    private def points(n: Int, seed: Int) = spark.range(0, n)
      .select((col("id") + seed * 10000).as("id"),
        ((col("id") * 37 + seed) % 101).as("x"),
        ((col("id") * 11 + seed) % 97).as("y"))
    private var target = 0L
    def build(): Unit = {
      Layout.zorderWrite(points(600, 1), Seq(col("x"), col("y")),
        s"$dir/p=a", numFiles = 3, bits = 10)
      Layout.zorderWrite(points(600, 2), Seq(col("x"), col("y")),
        s"$dir/p=b", numFiles = 3, bits = 10)
      points(200, 3).coalesce(1).write.mode("append").parquet(s"$dir/p=a")
      target = math.max(1L, new File(s"$dir/p=b").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum / 3)
    }
    def run(): Unit = Maintenance.compactZorder(spark, dir, Seq("x", "y"),
      bits = 10, targetFileBytes = target): Unit
    def swap = DirSwap.hidden(fs, new Path(s"$dir/p=a"), "_zcompact")
    def visible() = rows(spark.read.parquet(dir)) ++
      Seq("a", "b").map(p => s"p=$p files=${parquetFiles(s"$dir/p=$p")}")
  }

  private def clustersRewrite() = new Rewrite("graft_swap_clusters") {
    val cp = s"$work/clusters"
    def build(): Unit = {
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L)).toDF("id", "comp")
        .write.parquet(s"$cp/base")
      Seq((3L, 1L), (5L, 5L)).toDF("id", "comp").write.parquet(s"$cp/inc_b1")
      Seq((4L, 3L), (6L, 5L)).toDF("id", "comp").write.parquet(s"$cp/inc_b2")
    }
    def run(): Unit = Streams.compactClusters(spark, cp)
    def swap = DirSwap.hidden(fs, new Path(s"$cp/base"), "")
    override def reopen(): Unit = Streams.loadClusters(spark, cp).collect(): Unit
    def visible() = rows(Streams.loadClusters(spark, cp)) :+
      s"deltas=${new File(cp).list().count(_.startsWith("inc_b"))}"
  }

  private def scd2Rewrite() = new Rewrite("graft_swap_scd2") {
    val dim = s"$work/dim"
    private def apply(rows: Seq[(Long, String)], date: String): Unit =
      Streams.applyScd2Batch(rows.toDF("k", "attr"), dim, Seq("k"),
        Seq("attr"), date)
    def build(): Unit = apply(Seq((1L, "A"), (2L, "B")), "2024-01-01")
    def run(): Unit = apply(Seq((1L, "A"), (2L, "B2"), (3L, "C")), "2024-01-02")
    def swap = DirSwap.hidden(fs, new Path(dim), "_scd2")
    def visible() = rows(spark.read.parquet(dim))
  }

  private class ManifestRewrite extends Rewrite("graft_swap_manifest") {
    val data = s"$work/data"
    val mf = s"$work/manifest"
    val ranges = Seq(ColumnRange("id", Some(0L), Some(9L)))
    /** A legacy manifest: no `_meta.json`, so the next tick rewrites it
      * whole even when no file changed.
      */
    def build(): Unit = {
      spark.range(0, 60).select(col("id"), (col("id") % 7).as("v"))
        .repartitionByRange(6, col("id")).write.parquet(data)
      Skipping.writeStatsManifest(spark, data, Seq("id", "v"), mf)
      assert(fs.delete(new Path(mf, "_meta.json"), false))
    }
    def run(): Unit = Skipping.appendStatsManifest(spark, data, mf): Unit
    def swap = DirSwap(fs, new Path(mf), new Path(s"${mf}_staged"),
      new Path(s"${mf}_old"))
    def pruned(): Skipping.Pruned = Skipping.pruneFiles(spark, data, mf, ranges)
    override def reopen(): Unit = pruned(): Unit
    def visible() = (pruned().toString +: rows(spark.read.parquet(mf)
      .drop("shard"))) :+ s"pin=${Skipping.pinnedShards(spark, mf)}"
  }

  test("compactParquet survives a crash at every step, its orphan included") {
    assert(everyStep(parquetRewrite()) === swapSteps)
  }

  test("compactZorder survives a crash at every step; an orphaned " +
      "partition heals") {
    assert(everyStep(zorderRewrite()) === swapSteps)
  }

  test("compactClusters survives a crash at every step") {
    assert(everyStep(clustersRewrite()) === swapSteps :+ "drop deltas of")
  }

  test("applyScd2Batch survives a crash at every step") {
    assert(everyStep(scd2Rewrite()) === swapSteps)
  }

  test("the stats-manifest full rewrite survives a crash at every step") {
    assert(everyStep(new ManifestRewrite) === swapSteps)
  }

  test("a manifest rewrite crashed before its rename-in still prunes, and " +
      "a tick without columns heals it") {
    val m = new ManifestRewrite
    m.reset()
    val before = m.pruned()
    crashBefore("rename in")(m.run())
    assert(m.pruned() === before)
    m.reset()
    crashBefore("rename in")(m.run())
    val tick = Skipping.maintainManifest(spark, m.data, m.mf)
    assert(tick === Skipping.ManifestDelta(0, 0, parquetFiles(m.data).toLong))
    assert(Skipping.pinnedShards(spark, m.mf) === Some(1))
    assert(m.pruned() === before)
    assert(leftovers(m).isEmpty, s"left ${leftovers(m)}")
  }

  test("a read that heals the clusters base mid-compaction makes the swap " +
      "refuse its rename-in; no label is lost") {
    val c = clustersRewrite()
    c.reset()
    val before = c.visible()
    var read = false
    withHook { s =>
      if (s.startsWith("rename in") && !read) {
        read = true
        Streams.loadClusters(spark, c.cp).collect()
      }
    } {
      val e = intercept[IllegalStateException](c.run())
      assert(e.getMessage.contains("reappeared"), e.getMessage)
    }
    assert(read)
    assert(c.visible() === before, "the healed base and its deltas must " +
      "show the labels from before the compaction")
    c.run()
    assert(c.visible().init === before.init && c.visible().last === "deltas=0")
    assert(leftovers(c).isEmpty, s"left ${leftovers(c)}")
  }
}
