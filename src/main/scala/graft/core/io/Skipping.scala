package graft.core.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Planning-time file skipping over plain parquet directories — the
  * min/max-stats manifest a table format (Delta/Iceberg) carries, for
  * layouts this engine writes itself ([[graft.ops.Layout.rangeSortedWrite]]
  * / [[graft.ops.Layout.zorderWrite]]).
  *
  * Why parquet's own footer pushdown is not enough at 100 TB: row-group
  * min/max skipping happens at READ time, file by file — the scan still
  * LISTS and OPENS every footer, and at ~1M files the per-file round
  * trips (object-store GETs, driver listing memory, a task per file)
  * dominate a selective query. The manifest is one small parquet table
  * (a row per file×column) consulted BEFORE the scan is planned, so a
  * range predicate over a range-clustered layout reads ~the matching
  * files only. The reference has no skipping layer at all — its
  * incremental jobs re-list whole folders (yaetos/etl_utils.py,
  * `FS_Ops_Dispatcher` path listing).
  *
  * SAFETY CONTRACT (what makes pruning sound):
  *  - [[read]] re-applies the range predicate ROW-level after pruning,
  *    so its result is exactly `spark.read.parquet(dir).filter(ranges)`
  *    even if the manifest is stale or lies.
  *  - Files present on disk but ABSENT from the manifest are always
  *    read (new arrivals since the last [[writeStatsManifest]] — the
  *    append/compaction window is conservative, never wrong).
  *  - Manifest rows whose file vanished (compaction, GDPR rewrite) are
  *    ignored.
  *  - A range on a column the manifest never profiled keeps every file.
  *  - A file whose stats row shows zero non-null values for a range's
  *    column IS prunable: a range predicate is null-rejecting.
  *
  * Stats are typed by family, never stringly compared across families:
  * integral columns keep exact BIGINT bounds (a double would round past
  * 2^53 and could shave a boundary file), floating keeps DOUBLE, and
  * strings/dates keep STRING (dates serialize ISO — lexicographic order
  * IS date order). Unsupported types get no stats row and are never
  * pruned on.
  */
object Skipping {

  /** One pruning conjunct over a profiled column. Values must match the
    * column's stats family: Int/Long for integral columns, Double for
    * floating, String for string/date-typed columns (dates in ISO
    * `yyyy-MM-dd` form).
    */
  sealed trait FilePredicate { def column: String }

  /** `lower <= col <= upper`, bounds optional and inclusive. */
  final case class ColumnRange(column: String,
                               lower: Option[Any] = None,
                               upper: Option[Any] = None)
      extends FilePredicate {
    require(lower.nonEmpty || upper.nonEmpty,
      s"ColumnRange($column) needs at least one bound")
  }

  /** `col IN (values)` — the point-lookup / bucket-probe shape (a BM25
    * term bucket list, a tenant-id set). A file is excluded when NO
    * listed value can fall inside its [min, max]: on a range-clustered
    * layout an IN-list reads ~one file per distinct value instead of
    * the whole range hull between the smallest and largest probe.
    */
  final case class ColumnIn(column: String, values: Seq[Any])
      extends FilePredicate {
    require(values.nonEmpty, s"ColumnIn($column) needs at least one value")
  }

  /** `col IS NOT NULL` — drops files whose profiled column holds no
    * non-null value (sparse optional columns: at 100 TB "rows WITH an
    * embedding" can exclude entire unembedded partitions). Sound
    * against the conservative stats fallback: a file with dropped
    * footer stats records `n_vals = n_rows > 0` and stays read. The
    * dual (`IS NULL` pruning) is deliberately NOT offered — that same
    * fallback would claim "no nulls" for a file whose statistics
    * vanished and wrongly drop it.
    */
  final case class ColumnNotNull(column: String) extends FilePredicate

  final case class Pruned(keptFiles: Seq[String], manifestFiles: Int,
                          unlistedFiles: Int) {
    def readFiles: Int = keptFiles.length
  }

  private val statsFamilies: PartialFunction[DataType, String] = {
    case ByteType | ShortType | IntegerType | LongType => "long"
    case FloatType | DoubleType => "dbl"
    case _: DecimalType => "dbl"
    case StringType => "str"
    case DateType => "str" // ISO string: lexicographic == chronological
    // Timestamps keep their own family even though they live in the str
    // slots ("yyyy-MM-dd HH:mm:ss[.f]", trailing zeros trimmed, UTC
    // session — lexicographic == chronological for trimmed fractions):
    // a DATE-STRING bound ("1995-06-02") is a proper PREFIX of the
    // midnight value's string ("1995-06-02 00:00:00"), so the plain
    // `min > upper` exclusion would drop a file whose first row the
    // row-level cast semantics KEEP. The ts family pads string bounds
    // (see pruneFiles) to stay conservative under cast semantics.
    case TimestampType | TimestampNTZType => "ts"
  }

  /** The full dataset under `dataDir`, whatever its layout: flat dirs,
    * hive partitions (`basePath` keeps the directory-encoded columns),
    * and incremental sinks whose files live in `inc_*`/`batch*` subdirs
    * — which a plain `spark.read.parquet(dataDir)` would NOT discover
    * (Spark only recurses into `key=value` partition dirs). Built from
    * the same recursive listing the manifest rows use, so the profiled
    * file set and the schema probe can never disagree.
    */
  private def openDataset(spark: SparkSession, dataDir: String,
                          options: Map[String, String] = Map.empty)
      : DataFrame = {
    val files = listParquet(spark, dataDir)
    require(files.nonEmpty, s"no parquet files under $dataDir")
    spark.read.options(options).option("basePath", dataDir)
      .parquet(files: _*)
  }

  /** Profile `dataDir`'s parquet files into a manifest at `manifestDir`:
    * a row per (file, column) with `n_rows`, `n_vals` (non-null count)
    * and family-typed min/max. ONE scan of the data regardless of how
    * many columns are profiled (per-file aggregation, then an in-plan
    * unpivot). Columns of unsupported types are skipped. Returns the
    * number of files profiled.
    *
    * Re-run after appends or compaction; between runs the conservative
    * unlisted-file rule in [[pruneFiles]] keeps results exact.
    */
  def writeStatsManifest(spark: SparkSession, dataDir: String,
                         cols: Seq[String], manifestDir: String): Long = {
    require(cols.nonEmpty, "profile at least one column")
    val files = listParquet(spark, dataDir)
    require(files.nonEmpty, s"no parquet files under $dataDir")
    val df = spark.read.option("basePath", dataDir).parquet(files: _*)
    val profiled = cols.map { c =>
      val dt = df.schema(c).dataType // throws on unknown column: fail loud
      c -> statsFamilies.lift(dt)
    }.collect { case (c, Some(fam)) => c -> fam }
    require(profiled.nonEmpty,
      s"none of ${cols.mkString(",")} has a skippable type")
    writeManifestSharded(spark, profileFiles(df, profiled, files),
      manifestDir, files.size.toLong, profiled)
  }

  /** SHARDED manifest layout: rows land in `shard=<k>` partition dirs,
    * `k = xxhash64(pathKey(file)) mod n` with `n` scaled to the file
    * count (1 shard for small datasets — today's layout, nested — up to
    * 256 at listing scale). A hidden `_meta.json` beside the shard dirs
    * pins `n` and the sorted profiled `(column, family)` list; it is
    * read and written through the Hadoop FS, so a tick learns both
    * without a Spark job. The meta is written LAST, after every shard
    * dir it describes: a manifest without it (a crash between the shard
    * write and the meta write, or a manifest from before the meta — flat,
    * or pinned by the old one-row `_shards` parquet) ticks as a legacy
    * manifest and heals with one full rewrite. Readers are unchanged (`spark.read.parquet(
    * manifestDir)` discovers the partitions; the extra `shard` column is
    * ignored); this engine reads every manifest with the fixed
    * [[manifestReadSchema]], so no read pays a schema-inference job.
    * What the sharding buys is the TICK cost: [[appendStatsManifest]]
    * rewrites only the shards whose membership changed, so a
    * steady-state tick at 10⁵–10⁶ files costs ~(changed files /
    * n)·|manifest| instead of a whole-manifest single-task rewrite.
    */
  /** Files per manifest shard — package-visible so specs can exercise
    * multi-shard layouts without writing thousands of files.
    */
  private[io] var manifestFilesPerShard: Long = 512L

  private def manifestShardsFor(nFiles: Long): Int =
    math.min(256L, math.max(1L, nFiles / manifestFilesPerShard)).toInt

  private def manifestShardCol(numShards: Int): Column =
    pmod(xxhash64(pathKeyCol(col("file"))), lit(numShards.toLong))
      .cast("int")

  /** The shards `files` hash into. The projection over a local relation
    * folds to a LocalRelation at optimization (no `distinct`, which
    * would not fold), so the hash runs on the driver without a job and
    * stays the exact in-plan [[manifestShardCol]].
    */
  private def shardsOf(spark: SparkSession, files: Seq[String],
                       numShards: Int): Seq[Int] = {
    import spark.implicits._
    if (files.isEmpty) Nil
    else files.toDF("file").select(manifestShardCol(numShards)).collect()
      .map(_.getInt(0)).distinct.sorted.toSeq
  }

  /** The manifest's pin: shard count and the profiled columns. */
  private final case class ManifestMeta(shards: Int,
                                        profiled: Seq[(String, String)])

  private val metaFile = "_meta.json"
  private lazy val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The pin, None when the meta is absent (or a torn write left it
    * unreadable) — either way the manifest ticks as a legacy one.
    */
  private def readManifestMeta(fs: FileSystem,
                               manifestDir: String): Option[ManifestMeta] =
    try {
      val in = fs.open(new Path(manifestDir, metaFile))
      val tree = try json.readTree(in) finally in.close()
      import scala.jdk.CollectionConverters._
      Some(ManifestMeta(tree.path("shards").asInt(0),
        tree.path("profiled").elements().asScala
          .map(e => e.path(0).asText -> e.path(1).asText).toSeq))
        .filter(m => m.shards > 0 && m.profiled.nonEmpty &&
          m.profiled.forall { case (c, f) => c.nonEmpty && f.nonEmpty })
    } catch {
      case _: java.io.FileNotFoundException |
           _: com.fasterxml.jackson.core.JacksonException => None
    }

  private def writeManifestMeta(fs: FileSystem, manifestDir: String,
                                meta: ManifestMeta): Unit = {
    val node = json.createObjectNode()
    node.put("shards", meta.shards)
    val cols = node.putArray("profiled")
    meta.profiled.foreach { case (c, f) => cols.addArray().add(c).add(f) }
    val out = fs.create(new Path(manifestDir, metaFile), true)
    try out.write(json.writeValueAsBytes(node)) finally out.close()
  }

  /** The pinned shard count — the accessor specs assert the pin with. */
  private[io] def pinnedShards(spark: SparkSession,
                               manifestDir: String): Option[Int] =
    readManifestMeta(new Path(manifestDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), manifestDir)
      .map(_.shards)

  /** Land shard-tagged manifest rows under `dir`, a partition per
    * shard; `shards` is how many shard dirs the rows fill and
    * `profiledFiles` how many files were profiled into them. One shard
    * skips the shuffle when its profiling is one footer task anyway
    * ([[footerSlices]]): `coalesce(1)` pulls the exchange-free footer
    * reads into the writing task, so a larger one-shard write (a build
    * below 2·[[manifestFilesPerShard]] files) keeps its parallel reads
    * and shuffles to one partition instead.
    */
  private def writeShards(spark: SparkSession, rows: DataFrame, shards: Int,
                          dir: String, profiledFiles: Int): Unit =
    (if (shards == 1 && footerSlices(spark, profiledFiles) == 1) rows.coalesce(1)
     else rows.repartition(col("shard")))
      .write.partitionBy("shard").mode("overwrite").parquet(dir)

  /** Build write: shard data first, the meta last. Every listed file
    * gets exactly one row per profiled column (the footer path emits
    * one per column, the scan path fills rowless files), so the file
    * count is the listing's — no read-back.
    */
  private def writeManifestSharded(spark: SparkSession, rows: DataFrame,
                                   manifestDir: String, nFiles: Long,
                                   profiled: Seq[(String, String)]): Long = {
    val n = manifestShardsFor(nFiles)
    writeShards(spark, rows.withColumn("shard", manifestShardCol(n)), n,
      manifestDir, nFiles.toInt)
    writeManifestMeta(new Path(manifestDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), manifestDir,
      ManifestMeta(n, profiled.distinct.sortBy(_._1)))
    nFiles
  }

  final case class ManifestDelta(profiledFiles: Int, droppedFiles: Int,
                                 totalFiles: Long)

  /** [[writeStatsManifest]] from parquet FOOTERS instead of a data scan:
    * the writer already ordered every row — re-reading 100 TB just to
    * learn each file's min/max is the wrong steady state. Footers carry
    * exact per-row-group min/max/null-count statistics, so the manifest
    * build cost drops from corpus-linear to one ~KB metadata read per
    * file, distributed over the cluster (a partition of file names per
    * task). Produces BIT-IDENTICAL rows to the scan path for every
    * supported shape (spec-pinned): integral ↔ BIGINT, float/double ↔
    * DOUBLE (float widened exactly like `cast("double")`), decimal ↔
    * DOUBLE via BigDecimal.doubleValue (the same conversion the cast
    * performs), string ↔ parquet's unsigned-byte binary order (which IS
    * Spark's UTF8String order), date ↔ ISO `LocalDate.toString`.
    *
    * Soundness under parquet's stats quirks: a chunk whose statistics
    * were dropped (e.g. >4 KB binary bounds) or lack a null count makes
    * the file's row conservative — `n_vals` falls back to the row count
    * and min/max stay NULL, so comparisons are null → never excluded.
    * Truncated binary stats (writers configured with a truncate length)
    * remain valid bounds by parquet's contract (min truncates down, max
    * up). Hive-partition columns live in directory names, not footers —
    * profiling one here would claim all-null (an UNSOUND prune), so it
    * throws; use [[emitManifest]], which falls back to the scan path.
    */
  def writeStatsManifestFromFooters(spark: SparkSession, dataDir: String,
                                    cols: Seq[String],
                                    manifestDir: String): Long = {
    require(cols.nonEmpty, "profile at least one column")
    val files = listParquet(spark, dataDir)
    require(files.nonEmpty, s"no parquet files under $dataDir")
    val schema = spark.read.option("basePath", dataDir)
      .parquet(files: _*).schema
    val profiled = cols.map { c =>
      c -> statsFamilies.lift(schema(c).dataType)
    }.collect { case (c, Some(fam)) => c -> fam }
    require(profiled.nonEmpty,
      s"none of ${cols.mkString(",")} has a skippable type")
    profiled.foreach { case (c, _) =>
      if (files.exists(_.contains(s"/$c=")))
        throw new HivePartitionColumnException(
          s"column $c is a hive-partition column (directory-encoded): " +
            "footers cannot profile it; use writeStatsManifest")
    }
    writeManifestSharded(spark, footerProfile(spark, files, profiled),
      manifestDir, files.size.toLong, profiled)
  }

  /** Distributed footer profiling over an explicit file list — the core
    * of [[writeStatsManifestFromFooters]], also the delta leg of
    * [[appendStatsManifest]] (an append tick's profiling cost becomes
    * per-new-file METADATA, not a re-read of the new files' rows).
    */
  /** The EXPLICIT hadoop conf entries (the Configuration object is not
    * serializable); tasks rebuild it so object-store creds travel.
    */
  private def hadoopConfEntries(spark: SparkSession): Map[String, String] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
    b.result()
  }

  /** Tasks a footer pass over `nFiles` files runs: ≥16 footers per
    * task (a footer read is ~ms–tens-of-ms; one task per file would be
    * pure scheduling overhead), capped so a 1M-file listing still fans
    * out across the cluster.
    */
  private def footerSlices(spark: SparkSession, nFiles: Int): Int =
    math.min(math.max(nFiles / 16, 1),
      math.max(spark.sparkContext.defaultParallelism * 8, 4096))

  private def footerProfile(spark: SparkSession, files: Seq[String],
                            profiled: Seq[(String, String)]): DataFrame = {
    val confEntries = hadoopConfEntries(spark)
    val rows = spark.sparkContext
      .parallelize(files, footerSlices(spark, files.size))
      .mapPartitions { it =>
        // one Configuration rebuild per TASK, not per file — at 1M
        // files the per-file rebuild would dominate the footer reads
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        it.flatMap(f => footerRows(f, profiled, conf))
      }
    spark.createDataFrame(rows, manifestSchema)
  }

  /** A profiled column that lives in hive-partition directory names, not
    * parquet footers — the ONE shape the footer path declines by design.
    * A dedicated type so [[emitManifest]]'s fallback cannot swallow an
    * environmental `UnsupportedOperationException` (object-store
    * FileSystem stubs, exotic schemes) and silently reroute a 100 TB
    * corpus into a full profiling scan: those must surface.
    */
  final class HivePartitionColumnException(msg: String)
    extends UnsupportedOperationException(msg)

  /** Write-time manifest emission seam for the layout writers: footers
    * when every profiled column supports them, the data-scan path only
    * for the declared hive-partition-column shape. Any other failure
    * propagates — see [[HivePartitionColumnException]].
    */
  def emitManifest(spark: SparkSession, dataDir: String, cols: Seq[String],
                   manifestDir: String): Long =
    try writeStatsManifestFromFooters(spark, dataDir, cols, manifestDir)
    catch {
      case _: HivePartitionColumnException =>
        writeStatsManifest(spark, dataDir, cols, manifestDir)
    }

  /** Build-or-refresh: the ONE manifest-maintenance entry every write
    * path shares (the YAML `stats_manifest` output attr, the streaming
    * increment sink, [[graft.jobs]]' StatsManifestJob cadence tick).
    * First call builds via [[emitManifest]] (footers-first) from `cols`;
    * every later call delta-refreshes via [[appendStatsManifest]] —
    * profiling ONLY unseen files, dropping vanished ones, inheriting
    * the profiled columns from the manifest itself (`cols` is consulted
    * only for the first build, so a producer and a maintenance tick can
    * never diverge on what is indexed). This is what makes skipping
    * SELF-MAINTAINING at 100 TB: the steady-state cost of keeping a
    * manifest fresh is per-new-file metadata, paid by the job that
    * created the files — never a second corpus scan.
    */
  def maintainManifest(spark: SparkSession, dataDir: String,
                       manifestDir: String,
                       cols: Seq[String] = Nil,
                       colsParamName: String = "stats_cols"): ManifestDelta = {
    if (manifestSwap(spark, manifestDir).heal())
      appendStatsManifest(spark, dataDir, manifestDir)
    else {
      require(cols.nonEmpty,
        s"first manifest build at $manifestDir needs the columns to " +
          s"profile ($colsParamName)")
      val n = emitManifest(spark, dataDir, cols, manifestDir)
      ManifestDelta(n.toInt, 0, n)
    }
  }

  private val manifestSchema = StructType(Seq(
    StructField("file", StringType), StructField("n_rows", LongType),
    StructField("column", StringType), StructField("family", StringType),
    StructField("n_vals", LongType),
    StructField("min_long", LongType), StructField("max_long", LongType),
    StructField("min_dbl", DoubleType), StructField("max_dbl", DoubleType),
    StructField("min_str", StringType), StructField("max_str", StringType)))

  /** Every manifest read's schema: the rows plus the `shard` partition
    * column (null on a legacy flat manifest). Fixed, so no read runs a
    * schema-inference job.
    */
  private val manifestReadSchema = manifestSchema.add("shard", IntegerType)

  private def readManifest(spark: SparkSession, manifestDir: String): DataFrame =
    spark.read.schema(manifestReadSchema).parquet(manifestDir)

  /** One file's footer → manifest rows. Runs inside a task. */
  private def footerRows(file: String, profiled: Seq[(String, String)],
                         conf: org.apache.hadoop.conf.Configuration)
      : Seq[org.apache.spark.sql.Row] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      profiled.map { case (c, fam) =>
        val chunks = blocks.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == c))
        var nVals = 0L
        var usable = chunks.nonEmpty
        var minL: Option[Long] = None; var maxL: Option[Long] = None
        var minD: Option[Double] = None; var maxD: Option[Double] = None
        var minS: Option[String] = None; var maxS: Option[String] = None
        chunks.foreach { ch =>
          val st = ch.getStatistics
          val ok = st != null && st.isNumNullsSet &&
            (st.hasNonNullValue || st.getNumNulls == ch.getValueCount)
          if (!ok) usable = false
          else {
            nVals += ch.getValueCount - st.getNumNulls
            if (st.hasNonNullValue) {
              val prim = ch.getPrimitiveType
              val ann = prim.getLogicalTypeAnnotation
              def dec = ann.asInstanceOf[
                LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
              (fam, prim.getPrimitiveTypeName) match {
                case ("long", INT32) =>
                  val lo = st.genericGetMin.asInstanceOf[Number].longValue
                  val hi = st.genericGetMax.asInstanceOf[Number].longValue
                  minL = Some(minL.fold(lo)(math.min(_, lo)))
                  maxL = Some(maxL.fold(hi)(math.max(_, hi)))
                case ("long", INT64) =>
                  val lo = st.genericGetMin.asInstanceOf[Number].longValue
                  val hi = st.genericGetMax.asInstanceOf[Number].longValue
                  minL = Some(minL.fold(lo)(math.min(_, lo)))
                  maxL = Some(maxL.fold(hi)(math.max(_, hi)))
                case ("dbl", FLOAT | DOUBLE) =>
                  val lo = st.genericGetMin.asInstanceOf[Number].doubleValue
                  val hi = st.genericGetMax.asInstanceOf[Number].doubleValue
                  minD = Some(minD.fold(lo)(math.min(_, lo)))
                  maxD = Some(maxD.fold(hi)(math.max(_, hi)))
                case ("dbl", INT32 | INT64) if ann.isInstanceOf[
                    LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
                  def d(v: Any) = java.math.BigDecimal.valueOf(
                    v.asInstanceOf[Number].longValue, dec.getScale).doubleValue
                  val lo = d(st.genericGetMin); val hi = d(st.genericGetMax)
                  minD = Some(minD.fold(lo)(math.min(_, lo)))
                  maxD = Some(maxD.fold(hi)(math.max(_, hi)))
                case ("dbl", FIXED_LEN_BYTE_ARRAY | BINARY) if ann.isInstanceOf[
                    LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
                  def d(v: Any) = new java.math.BigDecimal(
                    new java.math.BigInteger(v.asInstanceOf[
                      org.apache.parquet.io.api.Binary].getBytes),
                    dec.getScale).doubleValue
                  val lo = d(st.genericGetMin); val hi = d(st.genericGetMax)
                  minD = Some(minD.fold(lo)(math.min(_, lo)))
                  maxD = Some(maxD.fold(hi)(math.max(_, hi)))
                case ("str", BINARY) =>
                  val lo = st.genericGetMin.asInstanceOf[
                    org.apache.parquet.io.api.Binary].toStringUsingUTF8
                  val hi = st.genericGetMax.asInstanceOf[
                    org.apache.parquet.io.api.Binary].toStringUsingUTF8
                  minS = Some(minS.fold(lo)(o => if (o <= lo) o else lo))
                  maxS = Some(maxS.fold(hi)(o => if (o >= hi) o else hi))
                case ("str", INT32) if ann.isInstanceOf[
                    LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
                  def d(v: Any) = java.time.LocalDate
                    .ofEpochDay(v.asInstanceOf[Number].longValue).toString
                  val lo = d(st.genericGetMin); val hi = d(st.genericGetMax)
                  minS = Some(minS.fold(lo)(o => if (o <= lo) o else lo))
                  maxS = Some(maxS.fold(hi)(o => if (o >= hi) o else hi))
                case ("ts", INT64) if ann.isInstanceOf[
                    LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
                  // INT96 timestamps never reach here (no INT64 match):
                  // they fall to the conservative arm below. Sessions
                  // this engine tunes write TIMESTAMP_MICROS.
                  val unit = ann.asInstanceOf[
                    LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
                    .getUnit
                  def d(v: Any) = {
                    val raw = v.asInstanceOf[Number].longValue
                    val us = unit match {
                      case LogicalTypeAnnotation.TimeUnit.MICROS => raw
                      case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
                      case LogicalTypeAnnotation.TimeUnit.NANOS =>
                        Math.floorDiv(raw, 1000L)
                    }
                    microsToSparkString(us)
                  }
                  val lo = d(st.genericGetMin); val hi = d(st.genericGetMax)
                  minS = Some(minS.fold(lo)(o => if (o <= lo) o else lo))
                  maxS = Some(maxS.fold(hi)(o => if (o >= hi) o else hi))
                case _ => usable = false // unknown physical shape
              }
            }
          }
        }
        // unusable stats → conservative row: values "exist" (no all-null
        // prune) and bounds unknown (no range prune); absent column
        // (schema evolution) → genuinely all-null, n_vals = 0 prunes
        val vals = if (!usable && chunks.nonEmpty) nRows
                   else if (chunks.isEmpty) 0L else nVals
        def o[T](v: Option[T]): Any =
          if (usable) v.orNull else null
        org.apache.spark.sql.Row(file, nRows, c, fam, vals,
          o(minL), o(maxL), o(minD), o(maxD), o(minS), o(maxS))
      }
    } finally reader.close()
  }

  /** Refresh an existing manifest against the directory's CURRENT file
    * set by profiling ONLY the files the manifest has never seen and
    * dropping rows for files that vanished (compaction / GDPR rewrite).
    * This is the steady-state maintenance path: [[writeStatsManifest]]
    * rescans the whole directory (corpus-linear — the build cost), an
    * append tick costs ~the new files. Profiled columns and families
    * are inherited from the manifest itself (its meta), so build and
    * append can never diverge on what is indexed.
    *
    * Metadata never costs a Spark job: the pin and the profiled columns
    * come from the meta, the new and vanished files' shards fold to a
    * local relation, and the totals are counted on the driver. The
    * jobs left are one exchange-free collect of the old file keys and
    * the staged write itself.
    *
    * The tick lands PER-SHARD (see [[writeManifestSharded]]'s layout):
    * only shards whose membership changed — a new file's shard, a
    * vanished file's shard — are rewritten, via a staged write and a
    * per-shard dir swap. A crash mid-tick leaves a MIX of generations;
    * every mix is conservative (a file absent from whichever generation
    * a reader sees is scanned, not skipped; a vanished file's stale row
    * is ignored — [[pruneFiles]] intersects with the disk listing), and
    * re-running the tick heals completely (missing shards read as
    * unprofiled files → re-profiled into fresh). The meta goes in LAST
    * on every path: a manifest without meta ticks as legacy — a FLAT
    * manifest from before sharding, one pinned by the old one-row
    * `_shards` parquet, or a build cut between its shard write and its
    * meta write — and gets one full sharded rewrite behind a whole-dir
    * [[DirSwap]] (which also drops an old `_shards`), even when no file
    * changed. A crash mid-swap leaves the old manifest aside; every tick
    * and [[pruneFiles]] heals it before reading.
    */
  def appendStatsManifest(spark: SparkSession, dataDir: String,
                          manifestDir: String): ManifestDelta = {
    val swap = manifestSwap(spark, manifestDir)
    require(swap.open(), s"no stats manifest at $manifestDir")
    val fs = swap.fs
    val onDisk = listParquet(spark, dataDir)
    val diskKeys = onDisk.map(pathKey).toSet
    val manifest = readManifest(spark, manifestDir)
    val meta = readManifestMeta(fs, manifestDir)
    val profiled = meta.map(_.profiled).getOrElse(
      manifest.select("column", "family").distinct()
        .collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sortBy(_._1))
    require(profiled.nonEmpty, s"manifest $manifestDir profiles no column")
    // every file has exactly one row per profiled column: one column's
    // rows are the file list, collected without an exchange
    val oldKeys = manifest.filter(col("column") === profiled.head._1)
      .select("file").collect().map(r => pathKey(r.getString(0))).toSet
    val newFiles = onDisk.filterNot(f => oldKeys.contains(pathKey(f)))
    val droppedKeys = (oldKeys -- diskKeys).toSeq.sorted
    val delta = ManifestDelta(newFiles.size, droppedKeys.size,
      (oldKeys.size - droppedKeys.size + newFiles.size).toLong)
    if (newFiles.isEmpty && droppedKeys.isEmpty && meta.nonEmpty) return delta
    // vanished files' rows drop in-plan, matched scheme-normalized
    // against the vanished keys as a local relation (no key list in the
    // plan's expressions, however many files vanished)
    import spark.implicits._
    val keep =
      if (droppedKeys.isEmpty) manifest
      else manifest.join(droppedKeys.toDF("_k"),
        pathKeyCol(col("file")) === col("_k"), "left_anti")
    // delta profiling: footers when every inherited column supports
    // them (per-new-file metadata cost), the row scan otherwise
    // (hive-partition columns live in dir names, not footers)
    val fresh =
      if (newFiles.isEmpty) None
      else if (!profiled.exists { case (c, _) =>
          newFiles.exists(_.contains(s"/$c=")) })
        Some(footerProfile(spark, newFiles, profiled))
      else Some(profileFiles(spark.read
        // schema from the FULL listed file set (a plain dataDir read
        // would miss files living in inc_*/batch* subdirs)
        .schema(spark.read.option("basePath", dataDir)
          .parquet(onDisk: _*).schema)
        .option("basePath", dataDir) // nested layouts: keep partition cols
        .parquet(newFiles: _*), profiled, newFiles))
    def withFresh(rows: DataFrame, n: Int): DataFrame =
      fresh.fold(rows)(f => rows.unionByName(
        f.withColumn("shard", manifestShardCol(n))))
    val target = manifestShardsFor(onDisk.size.toLong)
    val pinned = meta.map(_.shards)
    if (pinned.forall(n => target > 4 * n || n > 4 * target)) {
      // full sharded rewrite, staged then whole-dir swapped (the input
      // plan reads the old manifest — never overwrite a dir a pending
      // plan still reads): an unpinned manifest's migration/heal tick,
      // or a RE-SHARD when the pinned count has drifted 4× from the file
      // count's target (a manifest built small would otherwise stay
      // 1-sharded forever as its dataset grows)
      swap.replace { staged =>
        writeShards(spark, withFresh(
          keep.withColumn("shard", manifestShardCol(target)), target),
          target, staged.toString, newFiles.size)
        writeManifestMeta(fs, staged.toString, ManifestMeta(target, profiled))
      }
    } else {
      val n = pinned.get
      // shards touched by this tick: every new file's shard plus every
      // vanished file's shard; kept rows come from those shard dirs only
      val affected = shardsOf(spark, newFiles ++ droppedKeys, n)
      val staged = swap.staged
      writeShards(spark,
        withFresh(keep.filter(col("shard").isin(affected: _*)), n),
        affected.size, staged.toString, newFiles.size)
      affected.foreach { k =>
        val src = new Path(staged, s"shard=$k")
        val dst = new Path(manifestDir, s"shard=$k")
        fs.delete(dst, true)
        // a shard whose every file vanished stages no dir — the
        // deletion above IS its update
        if (fs.exists(src))
          require(fs.rename(src, dst),
            s"manifest shard swap failed: $src -> $dst")
      }
      fs.delete(staged, true)
    }
    delta
  }

  /** The manifest's whole-directory swap (`<manifest>_staged`, moved
    * aside to `<manifest>_old`); its staged dir also carries the
    * per-shard swap's shards.
    */
  private def manifestSwap(spark: SparkSession, manifestDir: String): DirSwap = {
    val live = new Path(manifestDir.stripSuffix("/"))
    DirSwap(live.getFileSystem(spark.sparkContext.hadoopConfiguration), live,
      live.suffix("_staged"), live.suffix("_old"))
  }

  /** Shared profiling core: per-file aggregation (ONE scan regardless of
    * column count) + in-plan unpivot to the manifest's
    * (file, column, family, typed min/max) rows.
    *
    * `allFiles` — the listed file set the aggregation is expected to
    * cover: an EMPTY part file (an empty partition's write) contributes
    * no rows, so the per-file groupBy never emits it; without a filler
    * row the scan path would leave it unlisted while the footer path
    * profiles it (0 rows, null bounds) and the two builders would
    * diverge on the same directory. Missing files get the same
    * zero-rows row the footer path emits — which also PRUNES
    * (`n_vals = 0` excludes under any null-rejecting predicate),
    * strictly better than unlisted conservatism.
    */
  private def profileFiles(df: DataFrame, profiled: Seq[(String, String)],
                           allFiles: Seq[String]): DataFrame = {
    val aggs = profiled.flatMap { case (c, fam) =>
      val v = fam match {
        case "long" => col(c).cast("long")
        case "dbl" => col(c).cast("double")
        case "str" | "ts" => col(c).cast("string")
      }
      Seq(min(v).as(s"_min_$c"), max(v).as(s"_max_$c"),
        count(v).as(s"_vals_$c"))
    }
    val allAggs = count(lit(1)).as("_rows") +: aggs
    val perFile = df
      .withColumn("_file", input_file_name())
      .groupBy("_file")
      .agg(allAggs.head, allAggs.tail: _*)
    val rows = profiled.map { case (c, fam) =>
      def slot(f: String, v: Column) =
        if (fam == f || (f == "str" && fam == "ts")) v
        else lit(null).cast(if (f == "long") "long"
          else if (f == "dbl") "double" else "string")
      struct(lit(c).as("column"), lit(fam).as("family"),
        col(s"_vals_$c").cast("long").as("n_vals"),
        slot("long", col(s"_min_$c")).as("min_long"),
        slot("long", col(s"_max_$c")).as("max_long"),
        slot("dbl", col(s"_min_$c")).as("min_dbl"),
        slot("dbl", col(s"_max_$c")).as("max_dbl"),
        slot("str", col(s"_min_$c")).as("min_str"),
        slot("str", col(s"_max_$c")).as("max_str"))
    }
    val out = perFile.select(col("_file").as("file"),
        col("_rows").cast("long").as("n_rows"),
        explode(array(rows: _*)).as("s"))
      .select(col("file"), col("n_rows"), col("s.*"))
    // filler rows for listed-but-rowless files (empty part files):
    // bounded anti-join over the files×columns manifest, never the data
    import df.sparkSession.implicits._
    val zrows = profiled.map { case (c, fam) =>
      struct(lit(c).as("column"), lit(fam).as("family"),
        lit(0L).as("n_vals"),
        lit(null).cast("long").as("min_long"),
        lit(null).cast("long").as("max_long"),
        lit(null).cast("double").as("min_dbl"),
        lit(null).cast("double").as("max_dbl"),
        lit(null).cast("string").as("min_str"),
        lit(null).cast("string").as("max_str"))
    }
    val zeros = allFiles.toDF("_lf")
      .join(out.select(pathKeyCol(col("file")).as("_k")).distinct(),
        pathKeyCol(col("_lf")) === col("_k"), "left_anti")
      .select(col("_lf").as("file"), lit(0L).as("n_rows"),
        explode(array(zrows: _*)).as("s"))
      .select(col("file"), col("n_rows"), col("s.*"))
    out.unionByName(zeros)
  }

  private def balancedAnd(cs: Seq[Column]): Column =
    if (cs.size == 1) cs.head
    else {
      val (l, r) = cs.splitAt(cs.size / 2)
      balancedAnd(l) && balancedAnd(r)
    }

  /** The file set a conjunction of ranges cannot rule out. Overlap runs
    * as a Spark job over the (bounded, files×columns) manifest; only the
    * surviving file NAMES reach the driver — the same order of driver
    * state Spark's own FileIndex holds for the pruned scan.
    */
  def pruneFiles(spark: SparkSession, dataDir: String, manifestDir: String,
                 ranges: Seq[FilePredicate]): Pruned =
    pruneFiles(spark, dataDir, manifestDir, ranges, footerBlooms = false)

  /** `footerBlooms = true` adds a SECOND pruning stage for [[ColumnIn]]
    * probes: every candidate the manifest could not exclude has its
    * parquet FOOTER bloom filters consulted (written by the layout
    * writers' `bloomCols=`, [[graft.ops.Layout.rangeSortedWrite]]) — a
    * file whose every row group's bloom says "definitely absent" for
    * every probe value of some conjunct is dropped. This is the prune
    * for point lookups on UNCLUSTERED high-cardinality columns, where
    * min/max ranges exclude nothing (every file's hull spans the
    * domain) and a manifest-stored membership sketch would have to be
    * NDV-sized (Delta/Iceberg reach the same conclusion — per-file
    * filter structures, not stats-table blobs). Cost: one footer read
    * per CANDIDATE (post-range-prune), distributed like the footer
    * profiler. Soundness is parquet's bloom contract (no false
    * negatives); a missing bloom — unenabled writer, absent column,
    * unsupported type pairing — keeps the file. The row-level re-filter
    * in [[read]] still applies regardless.
    */
  def pruneFiles(spark: SparkSession, dataDir: String, manifestDir: String,
                 ranges: Seq[FilePredicate],
                 footerBlooms: Boolean): Pruned = {
    require(ranges.nonEmpty, "pruneFiles needs at least one predicate")
    // URI spellings differ between input_file_name() (`file:///…`) and
    // FileSystem.listStatus (`file:/…`) — compare scheme-stripped paths,
    // read through the disk listing's spelling
    val onDisk = listParquet(spark, dataDir)
    // heal a full rewrite that crashed with the manifest moved aside
    manifestSwap(spark, manifestDir).heal()
    val manifest = readManifest(spark, manifestDir)
    // a file is excluded if ANY predicate proves it cannot hold a match.
    // ts-family columns compare string bounds PREFIX-SAFELY: the row
    // filter casts "1995-06-02" to the midnight timestamp (inclusive),
    // whose string form extends the bound — pad the upper probe with
    // U+FFFF so `min > upper` can never exclude a file the cast keeps.
    def padUp(v: Any): Column = v match {
      case s: String =>
        when(col("family") === "ts", concat(lit(s), lit("\uffff")))
          .otherwise(lit(s))
      case other => lit(other)
    }
    // ONE exchange-free collect over the bounded manifest: per
    // (file, column) row, does ANY conjunct on that column prove
    // exclusion? — then bool-or per file on the driver. A null
    // comparison (wrong-typed probe, conservative footer row) coalesces
    // to false → file kept.
    val rowExcluded = ranges.map { r =>
      val noVals = col("n_vals") === 0L // all-null: these preds reject null
      val noHit = r match {
        case ColumnRange(_, lower, upper) =>
          val below = upper.map(v => boundCol(manifest, v, "min") > padUp(v))
            .getOrElse(lit(false))
          val above = lower.map(v => boundCol(manifest, v, "max") < lit(v))
            .getOrElse(lit(false))
          below || above
        case ColumnIn(_, values) =>
          // balanced conjunction: a linear reduce over a large IN-list
          // builds a |values|-deep expression tree and blows the stack
          // during Column→Expression conversion
          balancedAnd(values.map(v =>
            !(boundCol(manifest, v, "min") <= padUp(v) &&
              boundCol(manifest, v, "max") >= lit(v))))
        case ColumnNotNull(_) => lit(false) // noVals alone excludes
      }
      col("column") === r.column && coalesce(noVals || noHit, lit(false))
    }.reduce(_ || _)
    val flagged = manifest.select(col("file"), rowExcluded).collect()
      .groupMapReduce(_.getString(0))(_.getBoolean(1))(_ || _)
      .toSeq.map { case (f, ex) => pathKey(f) -> ex }
    val listedKeys = flagged.map(_._1).toSet
    val keptKeys = flagged.collect { case (k, ex) if !ex => k }.toSet
    val kept = onDisk.filter(f => keptKeys.contains(pathKey(f)))
    val unlisted = onDisk.filterNot(f => listedKeys.contains(pathKey(f)))
    val candidates = (kept ++ unlisted).sorted
    val probes = ranges.collect { case ColumnIn(c, vs) => c -> vs }
    val surviving =
      if (!footerBlooms || probes.isEmpty || candidates.isEmpty) candidates
      else bloomSurvivors(spark, candidates, probes)
    Pruned(surviving,
      manifestFiles = listedKeys.size, unlistedFiles = unlisted.size)
  }

  /** The candidate files whose footer bloom filters cannot rule out
    * every probe conjunct — runs distributed (a partition of file names
    * per task, one footer read each). A file survives a conjunct if ANY
    * row group might hold ANY of its values; missing blooms, absent
    * columns, and untypable probes all read as "might" (conservative).
    */
  private def bloomSurvivors(spark: SparkSession, files: Seq[String],
                             probes: Seq[(String, Seq[Any])])
      : Seq[String] = {
    val confEntries = hadoopConfEntries(spark)
    spark.sparkContext.parallelize(files, footerSlices(spark, files.size))
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        it.filter(f => bloomMightHold(f, probes, conf))
      }
      .collect().toSeq.sorted
  }

  /** One file's footer membership test — runs inside a task. Two exact
    * metadata structures answer "might this row group hold value v?":
    * the column's BLOOM FILTER when one was written, else — because
    * parquet-mr deliberately SKIPS the bloom when every data page is
    * dictionary-encoded (the dictionary is already exact membership) —
    * the DICTIONARY PAGE itself, decoded and probed directly. Both are
    * per-row-group footer/metadata reads; everything unanswerable
    * (no bloom and non-dict pages, absent column, untypable pairing,
    * unreadable footer) stays "might" (conservative).
    */
  private def bloomMightHold(file: String, probes: Seq[(String, Seq[Any])],
                             conf: org.apache.hadoop.conf.Configuration)
      : Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val reader =
      try ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
      catch { case scala.util.control.NonFatal(_) => return true }
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      probes.forall { case (c, values) =>
        blocks.isEmpty || blocks.exists { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c) match {
            case None => true // column not in this file: conservative
            case Some(ch) if !probeValueTransparent(ch.getPrimitiveType) =>
              // the physical values are NOT the logical values (Decimal
              // stores unscaled ints, Date stores epoch days, Timestamp
              // stores epoch micros/millis/nanos, ...): an exact-membership
              // probe on the physical encoding would hash/compare the
              // wrong representation and could DROP a file whose rows the
              // row-level filter keeps. Stay "might" — wrong-typed probes
              // degrade to no pruning, never a wrong drop.
              true
            case Some(ch) =>
              val prim = ch.getPrimitiveType.getPrimitiveTypeName
              val bf =
                try reader.getBloomFilterDataReader(b).readBloomFilter(ch)
                catch { case scala.util.control.NonFatal(_) => null }
              if (bf != null)
                values.exists { v =>
                  (prim, v) match {
                    case (INT64, x: Long) => bf.findHash(bf.hash(x))
                    case (INT64, x: Int) => bf.findHash(bf.hash(x.toLong))
                    case (INT32, x: Long) =>
                      // a long probe outside the int32 domain cannot be
                      // in the column; in-domain probes hash as int
                      x >= Int.MinValue && x <= Int.MaxValue &&
                        bf.findHash(bf.hash(x.toInt))
                    case (INT32, x: Int) => bf.findHash(bf.hash(x))
                    case (DOUBLE, x: Double) => bf.findHash(bf.hash(x))
                    case (FLOAT, x: Double) => bf.findHash(bf.hash(x.toFloat))
                    case (BINARY, x: String) => bf.findHash(bf.hash(
                      org.apache.parquet.io.api.Binary.fromString(x)))
                    case _ => true // untypable pairing: conservative
                  }
                }
              else {
                val es = ch.getEncodingStats
                val allDict = es != null && es.hasDictionaryEncodedPages &&
                  !es.hasNonDictionaryEncodedPages
                if (!allDict) true // no exact structure: conservative
                else {
                  val dict =
                    try {
                      val desc = reader.getFooter.getFileMetaData.getSchema
                        .getColumnDescription(ch.getPath.toArray)
                      // ascribe to the public interface: the concrete
                      // DictionaryPageReader class is package-private
                      val store: org.apache.parquet.column.page
                        .DictionaryPageReadStore = reader.getDictionaryReader(b)
                      val page = store.readDictionaryPage(desc)
                      if (page == null) null
                      else page.getEncoding.initDictionary(desc, page)
                    } catch { case scala.util.control.NonFatal(_) => null }
                  if (dict == null) true
                  else {
                    val n = dict.getMaxId
                    // large IN-lists: decode the dictionary ONCE into a
                    // typed set instead of |values|·|dict| linear scans
                    lazy val decodedSet: Set[Any] = prim match {
                      case INT64 => (0 to n).map(dict.decodeToLong(_): Any).toSet
                      case INT32 => (0 to n).map(dict.decodeToInt(_): Any).toSet
                      case DOUBLE => (0 to n).map(dict.decodeToDouble(_): Any).toSet
                      case FLOAT => (0 to n).map(dict.decodeToFloat(_): Any).toSet
                      case BINARY => (0 to n).map(dict.decodeToBinary(_): Any).toSet
                      case _ => Set.empty
                    }
                    val useSet = values.size.toLong * (n + 1L) > 4096L
                    def holdsLong(x: Long): Boolean =
                      if (useSet) decodedSet.contains(x)
                      else (0 to n).exists(dict.decodeToLong(_) == x)
                    def holdsInt(x: Int): Boolean =
                      if (useSet) decodedSet.contains(x)
                      else (0 to n).exists(dict.decodeToInt(_) == x)
                    values.exists { v =>
                      (prim, v) match {
                        case (INT64, x: Long) => holdsLong(x)
                        case (INT64, x: Int) => holdsLong(x.toLong)
                        case (INT32, x: Long) =>
                          x >= Int.MinValue && x <= Int.MaxValue &&
                            holdsInt(x.toInt)
                        case (INT32, x: Int) => holdsInt(x)
                        case (DOUBLE, x: Double) =>
                          if (useSet) decodedSet.contains(x)
                          else (0 to n).exists(dict.decodeToDouble(_) == x)
                        case (FLOAT, x: Double) =>
                          if (useSet) decodedSet.contains(x.toFloat)
                          else (0 to n).exists(dict.decodeToFloat(_) == x.toFloat)
                        case (BINARY, x: String) =>
                          val bin = org.apache.parquet.io.api.Binary
                            .fromString(x)
                          if (useSet) decodedSet.contains(bin)
                          else (0 to n).exists(dict.decodeToBinary(_) == bin)
                        case _ => true
                      }
                    }
                  }
                }
              }
          }
        }
      }
    } finally reader.close()
  }

  /** Is a column's PHYSICAL value representation identical to the logical
    * value a probe would supply? Exact-membership pruning (bloom hash /
    * dictionary decode) compares probe values against physical storage,
    * so it is only sound when the logical type annotation is absent or
    * value-transparent: plain signed ints over INT32/INT64, UTF8/ENUM
    * strings over BINARY, unannotated DOUBLE/FLOAT. Every other
    * annotation (Decimal = unscaled ints, Date = epoch days, Timestamp =
    * epoch micros, Time, UUID, Float16, ...) transforms the value and
    * MUST fall through to the conservative "might hold" arm.
    */
  private def probeValueTransparent(
      prim: org.apache.parquet.schema.PrimitiveType): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val ann = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case INT32 | INT64 => ann == null || (ann match {
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
        case _ => false
      })
      case BINARY => ann == null ||
        ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] ||
        ann.isInstanceOf[LogicalTypeAnnotation.EnumLogicalTypeAnnotation]
      case DOUBLE | FLOAT => ann == null
      case _ => false // BOOLEAN/INT96/FIXED_LEN: no probe typing exists
    }
  }

  /** Pruned scan + row-level re-filter: semantically identical to
    * `spark.read.parquet(dataDir).filter(ranges)` while reading only
    * [[pruneFiles]]' survivors. This is the only read entry point —
    * exposing the pruned-but-unfiltered frame would make a stale
    * manifest a correctness bug instead of a lost optimization.
    */
  def read(spark: SparkSession, dataDir: String, manifestDir: String,
           ranges: Seq[FilePredicate],
           options: Map[String, String] = Map.empty,
           footerBlooms: Boolean = false): DataFrame = {
    val pruned = pruneFiles(spark, dataDir, manifestDir, ranges,
      footerBlooms)
    // openDataset, not a plain dataDir read: incremental sinks keep
    // files in inc_*/batch* subdirs a directory read would not discover
    val full = openDataset(spark, dataDir, options)
    val rowFilter = ranges.map {
      case r: ColumnRange =>
        val c = col(r.column)
        (r.lower.map(v => c >= lit(v)) ++ r.upper.map(v => c <= lit(v)))
          .reduce(_ && _)
      case i: ColumnIn => col(i.column).isin(i.values: _*)
      case n: ColumnNotNull => col(n.column).isNotNull
    }.reduce(_ && _)
    if (pruned.keptFiles.isEmpty) full.filter(lit(false))
    else spark.read.schema(full.schema).options(options)
      .option("basePath", dataDir) // nested layouts: keep partition cols
      .parquet(pruned.keptFiles: _*).filter(rowFilter)
  }

  /** Typed bound column for a range value: integral range values probe
    * the BIGINT slots, doubles the DOUBLE slots, strings the STRING
    * slots. A family mismatch (e.g. a String bound on a profiled-long
    * column) leaves the typed slot null — null comparisons are false, so
    * the file is KEPT: wrong-typed ranges degrade to no pruning, never
    * to a wrong drop.
    */
  private def boundCol(m: DataFrame, value: Any, side: String): Column =
    value match {
      case _: Int | _: Long | _: java.lang.Integer | _: java.lang.Long =>
        col(s"${side}_long")
      case _: Double | _: Float => col(s"${side}_dbl")
      case _: String => col(s"${side}_str")
      case other => throw new IllegalArgumentException(
        s"unsupported range bound type: ${other.getClass.getName}")
    }

  /** Epoch-micros → Spark's `cast(ts AS STRING)` form under a UTC
    * session: `yyyy-MM-dd HH:mm:ss[.f]` with the micro fraction's
    * trailing zeros trimmed. MUST byte-replay the cast — the footer and
    * scan profilers have to agree on every value, and the trimmed form
    * is what keeps lexicographic order chronological.
    */
  private def microsToSparkString(us: Long): String = {
    val sec = Math.floorDiv(us, 1000000L)
    val frac = Math.floorMod(us, 1000000L)
    val t = java.time.LocalDateTime.ofEpochSecond(
      sec, 0, java.time.ZoneOffset.UTC)
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-" +
      f"${t.getDayOfMonth}%02d ${t.getHour}%02d:${t.getMinute}%02d:" +
      f"${t.getSecond}%02d"
    if (frac == 0L) base
    else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
  }

  /** Scheme/authority-stripped path: the equality key across URI
    * spellings of the same file.
    */
  private[io] def pathKey(s: String): String = new Path(s).toUri.getPath

  /** In-plan twin of [[pathKey]]: strips `scheme://authority` (object
    * stores — `s3a://bucket/p` → `/p`) and the authority-less
    * `scheme:/p` spelling (`file:/p`, `file:///p` → `/p`). MUST stay
    * value-equal to pathKey on every URI the filesystem emits, or the
    * keep-join in [[appendStatsManifest]] silently discards profiled
    * rows (they fall back to unlisted = unpruned, conservative but a
    * total loss of the skip).
    */
  private[io] def pathKeyCol(c: Column): Column =
    regexp_replace(
      regexp_replace(c, lit("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*"), lit("")),
      lit("^[a-zA-Z][a-zA-Z0-9+.-]*:/+"), lit("/"))

  /** Recursive parquet listing under `dataDir`, skipping hidden
    * (`_`/`.`-prefixed) files and directories exactly like Spark's own
    * FileIndex — a Hive-partitioned or nested layout must yield the same
    * file keys `input_file_name()` wrote into the manifest, or
    * [[pruneFiles]] would see onDisk=∅ and return empty results.
    */
  private def listParquet(spark: SparkSession, dataDir: String): Seq[String] = {
    val root = new Path(dataDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[String]
    // manual listStatus walk, NOT fs.listFiles(root, true): the
    // recursive iterator materializes BLOCK LOCATIONS per file
    // (listLocatedStatus), which costs ~ms/file even on a local
    // checksum FS — 1000 files turned a plan-time prune into seconds.
    // listStatus is one metadata round trip per DIRECTORY, and hidden
    // (`_`/`.`) subtrees prune at descent, matching Spark's FileIndex.
    def walk(d: Path): Unit =
      fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (!(n.startsWith("_") || n.startsWith("."))) {
          if (st.isDirectory) walk(st.getPath)
          else if (st.isFile && n.endsWith(".parquet"))
            out += st.getPath.toUri.toString
        }
      }
    walk(root)
    out.result()
  }
}
