package graft.core.io

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.hadoop.fs.Path

/** Dataset maintenance for long-lived sinks. Incremental appends (the
  * no_schema sink writes one folder per period) accumulate small files;
  * at scale the file count, not the byte count, becomes the scan
  * bottleneck (driver listing + task-per-file overhead).
  */
object Maintenance {

  final case class Compacted(filesBefore: Int, filesAfter: Int, bytes: Long)

  /** Rewrite a parquet directory into ~`targetFileBytes` files: read,
    * repartition to ceil(total/target), then swap the rewrite in through
    * [[DirSwap]] (staged at `.<name>_compact_tmp`, the original moved
    * aside to `.<name>_compact_old`, healed on the next open). The swap
    * is atomic on HDFS/local rename semantics;
    * on object stores rename is copy+delete, so there is a visibility
    * window — run compaction when no reader races the swap (or use a
    * table format with atomic commits for that case).
    *
    * Parquet compresses ~on par with itself on rewrite, so input bytes
    * approximate output bytes well enough for file sizing.
    */
  def compactParquet(spark: SparkSession, dir: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): Compacted = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = DirSwap.hidden(fs, path, "_compact")
    require(swap.open(), s"no dataset at $dir")
    val files = fs.listStatus(path)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet files directly under $dir " +
      "(partitioned layouts compact per partition directory)")
    val totalBytes = files.map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val after = swap.replace(stageWithSidecars(spark, fs, path,
      spark.read.parquet(dir).repartition(n)))
    Compacted(files.length, after, totalBytes)
  }

  final case class IncrementsCompacted(dirsCompacted: Int, filesBefore: Int,
                                       filesAfter: Int)

  /** Compact a streaming/incremental sink's accumulated per-batch
    * subdirectories — the file-count maintenance a micro-batch sink
    * needs at scale: every trigger of [[graft.streaming.Streams
    * .writeIncrements]] / [[graft.streaming.Streams.nearDupSink]] (and
    * every [[graft.engine.MultiPass]] period) lands its own `inc_*` /
    * `batch*` dir with one-to-many small files, and after a week of
    * 1-minute triggers the LISTING — not the bytes — dominates every
    * downstream scan. Each eligible subdir is rewritten in place by
    * [[compactParquet]] (same crash-safe rename swap, sidecars carried),
    * so DIRECTORY identity is preserved: the replay/resume protocols key
    * on the dir (`batch$id` delete-and-rewrite, the `inc_*` resume
    * probe), and a compacted increment replays and probes exactly like
    * an uncompacted one.
    *
    * The newest `keepLatest` dirs are left untouched — that is the live
    * stream's replay-eligible tail; a crashed micro-batch replay
    * deletes-and-rewrites its dir, and racing that with a swap would
    * resurrect the pre-replay rows. "Newest" is decided by the LOGICAL
    * order encoded in the dir name — `batch<id>` numerically,
    * `inc_<yyyyMMdd_HHmmss>_<period>` lexicographically — because the
    * swap itself refreshes mtimes: under an mtime key, a second pass
    * while the stream is idle would rotate a just-compacted OLD dir
    * into the keep set and strip the true live tail (the uncommitted
    * `batch$N` awaiting delete-and-rewrite replay) of its protection.
    * Unrecognized layouts fall back to mtime. Dirs already at fewer
    * than `minFiles` parquet files are skipped (the steady state after
    * a previous pass — idempotent).
    */
  /** `statsManifest`: a [[Skipping]] manifest over this sink to
    * delta-refresh after the rewrites (drops the compacted-away files'
    * rows, footer-profiles the replacements) — so a compaction tick and
    * its manifest tick travel together and downstream `skip_manifest`
    * readers never sit a cadence behind the layout. Must already exist
    * (compaction maintains established sinks); absent → loud failure.
    */
  def compactIncrements(spark: SparkSession, root: String,
                        targetFileBytes: Long = 128L * 1024 * 1024,
                        keepLatest: Int = 1,
                        minFiles: Int = 2,
                        statsManifest: Option[String] = None)
      : IncrementsCompacted = {
    require(keepLatest >= 0, s"keepLatest must be >= 0: $keepLatest")
    require(minFiles >= 2, s"minFiles must be >= 2: $minFiles")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(rootPath), s"no sink at $root")
    val batchRe = "^batch(\\d+)$".r
    // sort key groups by layout kind so a homogeneous sink orders purely
    // on its logical id; compaction cannot perturb any of these
    def logicalKey(st: org.apache.hadoop.fs.FileStatus): (Int, Long, String) =
      st.getPath.getName match {
        case batchRe(id) => (0, id.toLong, "")
        case n if n.startsWith("inc_") => (1, 0L, n)
        case n => (2, st.getModificationTime, n)
      }
    // keepLatest applies PER KIND: batch ids and inc_ timestamps have no
    // shared scale, so in a sink that ever mixes kinds (or gains one
    // stray dir, which sorts last) a single global dropRight would let
    // the stray displace the live batch tail from the keep set and
    // re-open the replay/compaction resurrection race. Protecting the
    // newest keepLatest of EACH kind present is strictly more
    // conservative — a homogeneous sink behaves exactly as before.
    val subdirs = fs.listStatus(rootPath)
      .filter(st => st.isDirectory &&
        !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .groupBy(st => logicalKey(st)._1)
      .values.toSeq
      .flatMap(_.sortBy(logicalKey).dropRight(keepLatest))
      .sortBy(logicalKey)
    var dirs = 0; var before = 0; var after = 0
    subdirs.foreach { st =>
      val n = fs.listStatus(st.getPath)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (n >= minFiles) {
        val c = compactParquet(spark, st.getPath.toString, targetFileBytes)
        dirs += 1; before += c.filesBefore; after += c.filesAfter
      }
    }
    statsManifest.foreach(mf =>
      Skipping.appendStatsManifest(spark, root, mf): Unit)
    IncrementsCompacted(dirs, before, after)
  }

  /** The compactors' stage step: write `rows` to the staged path, then
    * copy every non-parquet sidecar (_schema.json, _git_info.json, ...)
    * of `path` beside them, so the swap replaces data files only.
    * Returns the staged parquet file count.
    */
  private def stageWithSidecars(spark: SparkSession,
                                fs: org.apache.hadoop.fs.FileSystem, path: Path,
                                rows: org.apache.spark.sql.DataFrame)
                               (tmp: Path): Int = {
    rows.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.listStatus(path)
      .filter(st => st.isFile && !st.getPath.getName.endsWith(".parquet")
        && st.getPath.getName != "_SUCCESS")
      .foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath,
          fs, new Path(tmp, st.getPath.getName), false, true,
          spark.sparkContext.hadoopConfiguration)
      }
    fs.listStatus(tmp)
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  final case class ZorderCompacted(partition: String, filesBefore: Int,
                                   filesAfter: Int, maxOverlapBefore: Int,
                                   reclustered: Boolean)

  /** Z-order-PRESERVING incremental compaction: appended increments decay
    * the clustering a [[graft.ops.Layout.zorderWrite]] established — each
    * unsorted append adds files whose z-range spans the whole curve, so
    * per-file min/max stats stop pruning. This re-clusters ONLY where the
    * layout measurably degraded, leaving still-tight data untouched (at
    * 100 TB a blanket rewrite of a mostly-clean table is the cost this
    * operator exists to avoid).
    *
    * Degradation test, per partition directory (one level of `key=value`
    * dirs, or the root itself when unpartitioned):
    *  - file-overlap: per-file [min, max] of the z-value — one
    *    column-pruned scan of the `dims` columns — sorted and swept;
    *    a file whose range intersects more than `maxOverlapPerFile`
    *    other files' ranges marks the partition degraded (a fresh
    *    range-repartitioned write has disjoint ranges: equal keys land
    *    in one range partition);
    *  - file-count: more than 2× the byte-derived target file count
    *    (disjoint but tiny appended files degrade listing + task grain,
    *    not min/max tightness).
    *
    * A degraded partition is rewritten with the SAME cluster expression
    * ([[graft.ops.Layout.zValue]] of `dims`, or the bare column for one
    * dim) via range-repartition + in-partition sort, then swapped in
    * with sidecars carried — restoring the tightness the original write
    * had. Clean partitions are returned with `reclustered = false` and
    * their files untouched.
    */
  /** `statsManifest`: see [[compactIncrements]] — delta-refresh an
    * existing [[Skipping]] manifest after the partition rewrites.
    */
  def compactZorder(spark: SparkSession, dir: String, dims: Seq[String],
                    bits: Int = 16,
                    targetFileBytes: Long = 128L * 1024 * 1024,
                    maxOverlapPerFile: Int = 0,
                    statsManifest: Option[String] = None)
      : Seq[ZorderCompacted] = {
    require(dims.nonEmpty, "compactZorder needs at least one dim column")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(DirSwap.hidden(fs, root, "_zcompact").open(), s"no dataset at $dir")
    // data partitions are the visible key=value dirs, plus any whose only
    // copy a crashed swap left aside (its own swap heals it)
    val orphan = "^\\.(.*=.*)_zcompact_old$".r
    val partDirs = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).collect {
        case orphan(p) => p
        case p if isPartition(p) => p
      }.distinct.sorted.map(new Path(root, _))
    val targets = if (partDirs.nonEmpty) partDirs.toSeq else Seq(root)
    val reports = targets.map(p =>
      compactZorderOne(spark, fs, p, dims, bits, targetFileBytes,
        maxOverlapPerFile))
    statsManifest.foreach(mf =>
      Skipping.appendStatsManifest(spark, dir, mf): Unit)
    reports
  }

  /** A visible hive `key=value` partition dir name (hidden swap dirs
    * such as `.p=a_zcompact_tmp` also contain '=').
    */
  private def isPartition(name: String): Boolean =
    name.contains("=") && !name.startsWith(".") && !name.startsWith("_")

  final case class DirReport(partition: String, files: Int, bytes: Long,
                             minBytes: Long, medianBytes: Long,
                             maxBytes: Long, smallFileRatio: Double,
                             advice: String)

  /** Layout-health report per leaf directory (root, or hive `key=value`
    * dirs): file count, byte spread, and the fraction of files below a
    * quarter of `targetFileBytes` — the small-file accumulation signal
    * that [[compactParquet]]/[[compactZorder]] exist to fix. `advice` is
    * `compact` when the file count exceeds twice the byte-derived target
    * or more than half the files are small, else `ok`. Driver cost is
    * one listing (no data read) — run it before scheduling maintenance,
    * not as part of a job.
    */
  def datasetReport(spark: SparkSession, dir: String,
                    targetFileBytes: Long = 128L * 1024 * 1024)
      : Seq[DirReport] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no dataset at $dir")
    val partDirs = fs.listStatus(root)
      .filter(st => st.isDirectory && isPartition(st.getPath.getName))
      .map(_.getPath).sortBy(_.getName)
    val targets = if (partDirs.nonEmpty) partDirs.toSeq else Seq(root)
    targets.map { p =>
      val sizes = fs.listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sorted
      if (sizes.isEmpty)
        DirReport(p.toString, 0, 0L, 0L, 0L, 0L, 0.0, "empty")
      else {
        val total = sizes.sum
        val small = sizes.count(_ < targetFileBytes / 4)
        val ratio = small.toDouble / sizes.length
        val targetN =
          math.max(1L, (total + targetFileBytes - 1) / targetFileBytes)
        val advice =
          if (sizes.length > 2 * targetN || ratio > 0.5) "compact" else "ok"
        DirReport(p.toString, sizes.length, total, sizes.head,
          sizes(sizes.length / 2), sizes.last,
          math.round(ratio * 10000).toDouble / 10000, advice)
      }
    }
  }

  final case class DeleteResult(filesTotal: Int, filesAffected: Int,
                                filesRewritten: Int, rowsDeleted: Long)

  /** Targeted delete (the "right to be forgotten" maintenance op): remove
    * every row whose `idCol` appears in `ids`, rewriting ONLY the files
    * that actually contain a matching row. At 100 TB the delete list is
    * tiny relative to the table, and a blanket rewrite is the cost this
    * operator exists to avoid: untouched files are left byte-identical
    * (same name, same mtime), so downstream caches and sync tools see
    * exactly the changed subset.
    *
    * Shape: one column-pruned discovery scan (`idCol` +
    * `input_file_name()`) semi-joined against the delete list finds the
    * affected files — the join broadcasts when the list is small, and the
    * scan reads one column. Each affected directory (the root, or one
    * hive `key=value` partition dir) is then rewritten from ONLY its
    * affected files: read → anti-join → write, so the rewrite cost is
    * bounded by the affected bytes, never the table bytes.
    *
    * Swap protocol, per directory (no atomic multi-file rename exists on
    * a plain filesystem, so the commit point is a manifest write):
    *  1. replacement rows → hidden `.X_delete_tmp` (dot-dir: readers skip);
    *  2. `_delete_plan.json` manifest (affected file names) written into
    *     tmp LAST — its presence is the commit marker;
    *  3. each affected original renamed to `.<name>_deleted` (atomic per
    *     file; a concurrent reader sees rows vanish file-by-file);
    *  4. tmp parquet files moved into the directory;
    *  5. hidden originals and tmp deleted.
    * Crash recovery (run before any new delete): tmp WITHOUT manifest →
    * roll back (delete tmp; originals were never touched). Tmp WITH
    * manifest → roll forward (re-hide any still-visible manifest names,
    * move remaining tmp files in, clean up) — every step is idempotent.
    *
    * `idCol` must be a physical column of the files (not a hive partition
    * column — partition-valued deletes are directory drops, not rewrites).
    * `ids` needs a column named `idCol`; extra columns are ignored.
    *
    * The affected-file list is collected to the driver (it drives the
    * per-directory swap protocol), so it is bounded by
    * `maxAffectedFiles`: a predicate matching most of the table would
    * otherwise build a table-sized driver array — and a delete that
    * touches nearly every file is not a TARGETED delete; fail loudly
    * and point at a full rewrite instead.
    */
  /** `statsManifest`: see [[compactIncrements]] — delta-refresh an
    * existing [[Skipping]] manifest after the rewrites, so a forget and
    * its manifest tick travel together (between ticks the rewritten
    * files read conservatively — correct, just unpruned).
    */
  def deleteMatching(spark: SparkSession, dir: String, idCol: String,
                     ids: org.apache.spark.sql.DataFrame,
                     maxAffectedFiles: Int = 100000,
                     statsManifest: Option[String] = None): DeleteResult = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no dataset at $dir")
    // finish or roll back any crashed delete before trusting the listing
    val leafDirs = (Seq(root) ++ fs.listStatus(root)
      .filter(st => st.isDirectory && isPartition(st.getPath.getName))
      .map(_.getPath)).distinct
    leafDirs.foreach(p => recoverDelete(fs, p))

    val filesTotal = leafDirs.map(p => fs.listStatus(p)
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))).sum
    require(maxAffectedFiles >= 1,
      s"maxAffectedFiles must be >= 1: $maxAffectedFiles")
    val idList = ids.select(col(idCol)).distinct()
    // take(max+1), not collect(): the cap must bound the driver array
    // itself, not just complain after materializing it
    val affectedCapped = spark.read.parquet(dir)
      .select(col(idCol), input_file_name().as("_f"))
      .join(idList, Seq(idCol), "left_semi")
      .select("_f").distinct().take(maxAffectedFiles + 1)
    require(affectedCapped.length <= maxAffectedFiles,
      s"deleteMatching: more than $maxAffectedFiles files under $dir " +
        s"contain matches — this is a bulk delete, not a targeted one; " +
        "rewrite the dataset with a filter (or raise maxAffectedFiles " +
        "if the driver can hold the file list)")
    val affected = affectedCapped.map(_.getString(0))
    if (affected.isEmpty) return DeleteResult(filesTotal, 0, 0, 0L)

    val byDir = affected.groupBy(f => new Path(new java.net.URI(f)).getParent)
    var rewritten = 0
    var deleted = 0L
    byDir.toSeq.sortBy(_._1.toString).foreach { case (pdir, files) =>
      val paths = files.sorted.map(f => new Path(new java.net.URI(f)))
      val before = spark.read.parquet(paths.map(_.toString): _*)
      require(before.columns.contains(idCol),
        s"$idCol is not a physical column of the files under $pdir " +
          "(hive partition columns cannot be delete keys)")
      val kept = before.join(idList, Seq(idCol), "left_anti")
      val nMatched = before.join(idList, Seq(idCol), "left_semi").count()
      val tmp = new Path(pdir, s".${pdir.getName}_delete_tmp")
      fs.delete(tmp, true)
      kept.repartition(paths.length)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      // commit marker: the manifest of original names goes in LAST
      val manifest = new Path(tmp, "_delete_plan.json")
      val outS = fs.create(manifest, true)
      outS.write(paths.map(p => "\"" + p.getName + "\"")
        .mkString("[", ",", "]").getBytes("UTF-8"))
      outS.close()
      rewritten += finishDelete(fs, pdir, tmp)
      deleted += nMatched
    }
    statsManifest.foreach(mf =>
      Skipping.appendStatsManifest(spark, dir, mf): Unit)
    DeleteResult(filesTotal, affected.length, rewritten, deleted)
  }

  /** Roll the committed swap forward: hide manifest-named originals, move
    * tmp parquet in, drop hidden + tmp. Idempotent — safe to re-run from
    * any crash point after the manifest exists.
    */
  private def finishDelete(fs: org.apache.hadoop.fs.FileSystem,
                           pdir: Path, tmp: Path): Int = {
    val manifest = new Path(tmp, "_delete_plan.json")
    val names = {
      val in = fs.open(manifest)
      val raw = try {
        val buf = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](8192)
        var n = in.read(b)
        while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
      raw.stripPrefix("[").stripSuffix("]").split(",").toSeq
        .filter(_.nonEmpty).map(_.trim.stripPrefix("\"").stripSuffix("\""))
    }
    names.foreach { n =>
      val orig = new Path(pdir, n)
      if (fs.exists(orig))
        require(fs.rename(orig, new Path(pdir, s".${n}_deleted")),
          s"could not hide $orig")
    }
    val moved = fs.listStatus(tmp)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    moved.foreach { st =>
      require(fs.rename(st.getPath, new Path(pdir, st.getPath.getName)),
        s"could not move ${st.getPath} into $pdir")
    }
    names.foreach(n => fs.delete(new Path(pdir, s".${n}_deleted"), false))
    fs.delete(tmp, true)
    moved.length
  }

  /** Crash recovery for [[deleteMatching]]: a tmp dir with the manifest is
    * past the commit point — roll forward; without it, nothing visible was
    * touched — roll back by dropping the tmp.
    */
  private def recoverDelete(fs: org.apache.hadoop.fs.FileSystem,
                            pdir: Path): Unit = {
    val tmp = new Path(pdir, s".${pdir.getName}_delete_tmp")
    if (fs.exists(tmp)) {
      if (fs.exists(new Path(tmp, "_delete_plan.json")))
        finishDelete(fs, pdir, tmp): Unit
      else fs.delete(tmp, true): Unit
    }
  }

  private def compactZorderOne(spark: SparkSession,
                               fs: org.apache.hadoop.fs.FileSystem,
                               path: Path, dims: Seq[String], bits: Int,
                               targetFileBytes: Long,
                               maxOverlapPerFile: Int): ZorderCompacted = {
    import org.apache.spark.sql.functions.{col, input_file_name, min, max}
    val swap = DirSwap.hidden(fs, path, "_zcompact")
    swap.open()
    val files = fs.listStatus(path)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty)
      return ZorderCompacted(path.toString, 0, 0, 0, reclustered = false)
    def zExpr = if (dims.size == 1) col(dims.head).cast("long")
      else graft.ops.Layout.zValue(dims.map(col), bits)
    // per-file z ranges: one scan pruned to the dim columns
    val ranges = spark.read.parquet(path.toString)
      .select(input_file_name().as("_f"), zExpr.as("_z"))
      .filter(col("_z").isNotNull)
      .groupBy("_f").agg(min("_z").as("lo"), max("_z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    val maxOverlap =
      if (ranges.length < 2) 0
      else ranges.indices.map { i =>
        val (lo, hi) = ranges(i)
        ranges.indices.count(j => j != i &&
          ranges(j)._1 <= hi && ranges(j)._2 >= lo)
      }.max
    val totalBytes = files.map(_.getLen).sum
    val targetN =
      math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val degraded = maxOverlap > maxOverlapPerFile || files.length > 2 * targetN
    if (!degraded)
      return ZorderCompacted(path.toString, files.length, files.length,
        maxOverlap, reclustered = false)
    val after = swap.replace(stageWithSidecars(spark, fs, path,
      spark.read.parquet(path.toString)
        .withColumn("_z", zExpr)
        .repartitionByRange(targetN, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")))
    ZorderCompacted(path.toString, files.length, after, maxOverlap,
      reclustered = true)
  }
}
