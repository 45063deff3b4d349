package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.io.{PathTemplating, Reader, Writer}
import graft.core.model.{DatasetSpec, JobSpec, Params}
import graft.ops.{Checks, Incremental}

/** The unit of user computation (reference ETL_Base.transform,
  * yaetos/etl_utils.py:231-233): named input frames in, one frame out.
  * Implementations are plain Scala classes registered by name or resolved
  * via Class.forName (reference get_job_class, yaetos/etl_utils.py:1521-1528).
  */
trait EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame
}

/** load → transform → save for one job, one pass (reference
  * ETL_Base.etl_one_pass / etl_no_io, yaetos/etl_utils.py:139-229).
  */
object Etl {

  /** `writtenRows` is the count the write observed ([[Writer.Written]]);
    * None when nothing was saved or the sink observes no count — callers
    * recount `df` then.
    */
  final case class Result(df: DataFrame, writtenPath: Option[String],
                          writtenRows: Option[Long] = None)

  /** Resolve a job's transform: inline SQL, SQL file (with param header),
    * registered class, or identity (single-input copy job).
    */
  private[engine] def transformOf(job: JobSpec): EtlJob = {
    (job.sql, job.sqlFile, job.className) match {
      case (Some(sql), _, _) => new SqlJob(sql)
      case (_, Some(file), _) => new SqlJob(SqlFile.resourceOrFile(file))
      case (_, _, Some(cls)) =>
        Class.forName(cls).getDeclaredConstructor().newInstance().asInstanceOf[EtlJob]
      case _ => new EtlJob { // copy job (reference jobs/generic/copy_job.py)
        def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                      params: Map[String, String]): DataFrame = {
          require(inputs.size == 1, s"copy job needs exactly 1 input, got ${inputs.keys}")
          inputs.values.head
        }
      }
    }
  }

  /** Run one pass. `loadedInputs` short-circuits disk loads (in-memory DAG
    * chaining / tests — reference etl_no_io's loaded_inputs). `period`
    * restricts incremental inputs to one day.
    */
  def runJob(spark: SparkSession, job: JobSpec,
             loadedInputs: Map[String, DataFrame] = Map.empty,
             period: Option[String] = None,
             now: String = defaultNow(),
             save: Boolean = true,
             auditCols: Boolean = false): Result = {
    val inputs = job.inputs.map { case (name, ds0) =>
      val ds = Params.resolve(ds0, job.params)
      val fromMem = ds.from.orElse(if (ds.format == "df") Some(name) else None)
      // Chaining rule (reference chain_dependencies semantics) — single
      // definition in JobSpec.chainsByName: in-memory frame when the input
      // opts in (`type: df`), declares no path, or the job lists the
      // same-named upstream as a dependency. A same-named input with a
      // path but NO dependency edge reads its declared data.
      val chainsByName = loadedInputs.contains(name) && job.chainsByName(name)
      val base = fromMem match {
        case Some(src) => loadedInputs.getOrElse(src,
          sys.error(s"job ${job.name}: in-memory input '$src' not available"))
        case None if chainsByName => loadedInputs(name)
        case None =>
          // JDBC incremental inputs push the period range into the
          // database query — a 1 TB source table must not cross the wire
          // in full once per period just to be filtered Spark-side; a
          // skip_manifest parquet input turns the same pair into a
          // planning-time file prune (Reader.skipPredicates)
          val readerPeriod = (ds.format, ds.incField, period) match {
            case ("jdbc", Some(_), Some(p)) =>
              Some((p, java.time.LocalDate.parse(p).plusDays(1).toString))
            case ("parquet", Some(_), Some(p)) if ds.skipManifest.nonEmpty =>
              Some((p, java.time.LocalDate.parse(p).plusDays(1).toString))
            case _ => None
          }
          Reader.read(spark,
            ds.copy(path = PathTemplating.expand(ds.path, spark, now)), readerPeriod)
      }
      // file formats restrict Spark-side (pushdown-eligible range filter);
      // for the jdbc path this re-filter of already-restricted rows is a
      // cheap invariant, not a second transfer
      val filtered = (ds.incField, period) match {
        case (Some(f), Some(p)) => Incremental.periodFilter(base, f, p)
        case _ => base
      }
      name -> filtered
    }
    // Register every input as a temp view under its input name — the whole
    // "catalog" (reference sql_register, yaetos/etl_utils.py:349-354).
    inputs.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    var out = transformOf(job).transform(inputs, spark, job.params)
    if (auditCols) out = out.withColumn("_created_at", lit(now))
    job.output.map(o => Params.resolve(o, job.params)) match {
      case Some(o) =>
        // pk check + write both execute the plan; persist across the pair
        // so the lineage computes once, released before returning
        val multiAction = o.pk.nonEmpty && save
        if (multiAction) out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (o.pk.nonEmpty)
            require(Checks.pkIsUnique(out, o.pk),
              s"job ${job.name}: output violates pk uniqueness on ${o.pk}")
          if (save) {
            val written = Writer.write(out, job, o, now, period)
            Writer.writeSchemaSidecar(out, written.path)
            // provenance sidecar (reference Git_Config_Manager), opt-in:
            // records which commit produced this output; goes through the
            // sink's Hadoop filesystem so non-local schemes work too
            if (job.params.get("git_info").contains("true"))
              GitInfo.writeSidecarHadoop(
                job.params.getOrElse("git_repo_dir", "."), written.path,
                spark.sparkContext.hadoopConfiguration): Unit
            // write-path skipping maintenance (`stats_manifest`): tick
            // the sink's per-file min/max manifest as part of the write
            // — first run builds it, every later run/period appends at
            // per-new-file metadata cost, so downstream `skip_manifest`
            // readers always plan against a fresh manifest without a
            // separate profiling scan (Skipping.maintainManifest)
            o.statsManifest.foreach { mf =>
              require(o.format == "parquet",
                s"job ${job.name}: stats_manifest needs a parquet sink, " +
                  s"got ${o.format}")
              graft.core.io.Skipping.maintainManifest(spark,
                graft.core.io.PathTemplating.expandNow(o.path, now),
                graft.core.io.PathTemplating.expandNow(mf, now),
                o.statsCols): Unit
            }
            Result(out, Some(written.path), written.rows)
          } else Result(out, None)
        } finally if (multiAction) { out.unpersist(); () }
      case None => Result(out, None)
    }
  }

  def defaultNow(): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
}

/** Inline-SQL transform with `{{param}}` interpolation over registered
  * input views (reference sql_spark_job transform, yaetos/sql_spark_job.py:25-30).
  */
class SqlJob(sqlText: String) extends EtlJob {
  def transform(inputs: Map[String, DataFrame], spark: SparkSession,
                params: Map[String, String]): DataFrame =
    SqlFile.run(spark, sqlText, params)
}
