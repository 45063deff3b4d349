package graft.core.io

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Observation, Row, SaveMode}
import org.apache.spark.sql.functions.{count, lit}
import graft.core.model.{DatasetSpec, JobSpec}

/** Format-dispatched dataset writer (reference save_output,
  * yaetos/etl_utils.py:595-655).
  *
  * Semantics mirrored from the reference:
  *  - mode is `append` iff the write is partitioned or incremental,
  *    `errorifexists` otherwise (yaetos/etl_utils.py:622-623);
  *  - incremental `no_schema` sinks append a run subfolder
  *    `inc_<now>_<period>/` per increment (yaetos/etl_utils.py:615-618);
  *  - incremental `partitioned` sinks use `partitionBy(inc_field)` +
  *    append (yaetos/etl_utils.py:603,622);
  *  - CSV writes a header;
  *  - an explicit `repartition` knob passes through
  *    (yaetos/sql_spark_job.py:28-29); writes stay distributed otherwise —
  *    there is deliberately no count()-based small-output compaction on
  *    the hot path (the reference's `count() < 500000 → repartition(1)`
  *    forces an extra job; callers opt in via repartition=1).
  */
object Writer {

  /** `rows` is the count a file sink's write observed; None for jdbc and
    * warc sinks (callers recount) or if the observation never arrived.
    */
  final case class Written(path: String, mode: String, rows: Option[Long])

  /** The single definition of a write's target path — `inc_<now>_<period>`
    * subfolder for `no_schema` incremental jobs, the expanded base
    * otherwise. Streams.writeIncrement relies on this to delete a
    * replayed micro-batch's increment before rewriting it; deriving the
    * name anywhere else would silently break that replay dedup if the
    * layout ever changed.
    */
  def targetPath(job: JobSpec, out: DatasetSpec, now: String,
                 period: Option[String]): String = {
    val basePath = PathTemplating.expandNow(out.path, now)
    (job.isIncremental, job.incrementalMode) match {
      case (true, "no_schema") =>
        s"${basePath.stripSuffix("/")}/inc_${now}_${period.getOrElse("all")}"
      case _ => basePath
    }
  }

  def write(df: DataFrame, job: JobSpec, out: DatasetSpec,
            now: String, period: Option[String] = None): Written = {
    val incremental = job.isIncremental
    val path = targetPath(job, out, now, period)
    val partitionCols =
      if (incremental && job.incrementalMode == "partitioned")
        out.incField.toSeq ++ job.partitionBy
      else job.partitionBy
    val mode =
      if (incremental || partitionCols.nonEmpty) SaveMode.Append
      else SaveMode.ErrorIfExists
    val repartitioned = job.repartition.map(df.repartition(_)).getOrElse(df)
    // a file sink lands through a DataFrameWriter action whose completion
    // event carries a `Dataset.observe` count of the written frame: the
    // landed rows without a read-back
    def landFile(save: DataFrameWriter[Row] => Unit): Option[Long] = {
      val landed = Observation()
      var w = repartitioned.observe(landed, count(lit(1)).as("rows"))
        .write.mode(mode).options(out.saveOptions)
      if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
      save(w)
      scala.util.Try(scala.concurrent.Await.result(landed.future,
        scala.concurrent.duration.Duration(60, "s"))).toOption
        .map(_.getAs[Long]("rows"))
    }
    var actualMode = mode
    val rows = out.format match {
      case "csv" => landFile(_.option("header", "true").csv(path))
      case "parquet" => landFile(_.parquet(path))
      case "orc" => landFile(_.orc(path))
      case "json" => landFile(_.json(path))
      case "text" => landFile(_.text(path))
      case "warc" =>
        require(partitionCols.isEmpty, "warc sink does not support partitionBy")
        graft.sources.Warc.write(repartitioned, graft.sources.Warc.WarcCols(),
          path, mode = if (mode == SaveMode.Append) "append" else "errorifexists")
        None
      // append only for genuinely incremental jobs, error-if-exists
      // otherwise — a re-run of a completed job must not silently drop +
      // recreate the target table, and a non-incremental PARTITIONED job
      // must not inherit the file-sink append rule (jdbc ignores
      // partitionBy: appending here would duplicate the full table on
      // every re-run instead of landing in distinct partition dirs)
      case "jdbc" =>
        actualMode = if (incremental) SaveMode.Append else SaveMode.ErrorIfExists
        repartitioned.write.format("jdbc")
          .options(graft.sources.Jdbc.expandPreset(out.saveOptions))
          .mode(actualMode).save()
        None
      case other => sys.error(s"unsupported output format: $other")
    }
    Written(path, actualMode.toString, rows)
  }

  /** Schema sidecar: dump the output schema as JSON next to the data
    * (reference Schema_Builder, yaetos/etl_utils.py:804-821 — capture,
    * not enforcement).
    */
  def writeSchemaSidecar(df: DataFrame, dir: String): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dirPath, "_schema.json"), true)
    try out.write(df.schema.prettyJson.getBytes("UTF-8")) finally out.close()
  }

  /** Backtick-quoted Spark SQL identifier: each dot-separated part quoted,
    * embedded backticks doubled — a hostile or reserved-word table name
    * cannot escape into the statement.
    */
  private[graft] def quoteIdent(name: String): String =
    name.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  /** Bucketed catalog table: rows are hash-bucketed (and sorted) on the
    * join key at WRITE time, so every later equi-join or aggregation on
    * that key runs with no exchange — the sort-merge join reads
    * co-located buckets directly. At 100 TB this converts the dominant
    * repeated-join shuffle into a one-time write cost; both sides of a
    * join must use the same bucket count to pair up.
    * (Spark requires `saveAsTable` for bucketing metadata, hence the
    * catalog route rather than a path write.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, format: String = "parquet",
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs at least one column")
    clearOrphanedLocation(df.sparkSession, table, mode)
    df.write.mode(mode).format(format)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Plain (unbucketed) managed-table write with the same
    * orphan-location recovery as [[writeBucketed]].
    */
  def writeTable(df: DataFrame, table: String, format: String = "parquet",
                 mode: SaveMode = SaveMode.Overwrite): Unit = {
    clearOrphanedLocation(df.sparkSession, table, mode)
    df.write.mode(mode).format(format).saveAsTable(table)
  }

  /** Overwrite must also replace a location ORPHANED by an earlier
    * session (managed-table files outlive an in-memory catalog);
    * saveAsTable alone fails LOCATION_ALREADY_EXISTS on it.
    *
    * RACE (shared-warehouse deployments): "absent from MY catalog" is
    * how an orphan looks, but it is also how another session's
    * freshly-written, not-yet-registered table looks — two sessions
    * overwriting the same table name in one warehouse can have one
    * delete the other's files. Safe for the single-session Verify/Runner
    * workflow this targets; on a shared metastore, serialize writers per
    * table name or pre-create the table.
    */
  private def clearOrphanedLocation(spark: org.apache.spark.sql.SparkSession,
                                    table: String, mode: SaveMode): Unit =
    if (mode == SaveMode.Overwrite && !spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        org.apache.spark.sql.GraftSqlBridge.defaultTablePath(spark, table))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true): Unit
    }

  /** Catalog registration of a written location (reference Athena/Glue
    * CREATE EXTERNAL TABLE, yaetos/athena.py:9-59) against the session
    * catalog.
    */
  def registerTable(df: DataFrame, table: String, path: String, format: String): Unit = {
    require(Seq("parquet", "csv", "json", "orc", "text").contains(format.toLowerCase),
      s"unsupported catalog table format: $format")
    df.sparkSession.sql(
      s"CREATE TABLE IF NOT EXISTS ${quoteIdent(table)} USING $format " +
        s"LOCATION '${path.replace("'", "''")}'")
  }
}
