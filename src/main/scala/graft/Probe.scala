package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Scratch inspection main over the gate queries. Not part of the
  * library API.
  *
  *   runMain graft.Probe q <names…> [--explain] [--dump DIR SUFFIX] [--sf DIR]
  *     run each named query: show rows + count (and the formatted plan
  *     with --explain); with --dump, write each plan to
  *     `DIR/<name>_SUFFIX.txt` instead (the plans/rNN evidence files).
  *     sf dir: --sf, else SPARK_GRAFT_SF_DIR, else sf0.001.
  *   runMain graft.Probe time <name> [sfDir] [passes]
  *     attribute one query's wall time to its Spark jobs under the EXACT
  *     bench session (SPARK_GRAFT_CPUS, default 32; PROBE_CONF="k=v,k=v"
  *     A/B knobs without a rebuild).
  *   runMain graft.Probe audit
  *     every query at sf0.001: exchange count + plan anti-pattern flags.
  */
object Probe {
  def main(args: Array[String]): Unit = args.toList match {
    case "q" :: rest => query(rest)
    case "time" :: name :: rest =>
      time(name, rest.headOption.getOrElse("/root/testdata/sf0.1"),
        rest.drop(1).headOption.map(_.toInt).getOrElse(2))
    case "audit" :: Nil => audit()
    case _ => sys.error("usage: Probe q <names…> [--explain] " +
      "[--dump DIR SUFFIX] [--sf DIR] | time <name> [sfDir] [passes] | audit")
  }

  private def query(args: List[String]): Unit = {
    @annotation.tailrec
    def parse(a: List[String], names: Vector[String],
              dump: Option[(String, String)],
              sf: Option[String]): (Vector[String], Option[(String, String)], Option[String]) =
      a match {
        case "--dump" :: d :: suffix :: t => parse(t, names, Some((d, suffix)), sf)
        case "--sf" :: d :: t => parse(t, names, dump, Some(d))
        case "--explain" :: t => parse(t, names, dump, sf)
        case n :: t => parse(t, names :+ n, dump, sf)
        case Nil => (names, dump, sf)
      }
    val (names, dump, sf) = parse(args, Vector.empty, None, None)
    val dir = sf.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val spark = GraftSession.local(cores = 8, shufflePartitions = 8)
    spark.sparkContext.setLogLevel("WARN")
    dump.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d._1)))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[probe] $name: not in the registry")
        case Some(fn) =>
          val df = fn(spark, dir)
          dump match {
            case Some((outDir, suffix)) =>
              val plan = df.queryExecution.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
              java.nio.file.Files.write(
                java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
                plan.getBytes("UTF-8"))
              println(s"[probe] $name plan dumped")
            case None =>
              println(s"\n======== $name ========")
              df.show(20, truncate = false)
              println(s"rows: ${df.count()}")
              if (args.contains("--explain")) df.explain("formatted")
          }
      }
    }
    spark.stop()
  }

  private def audit(): Unit = {
    val spark = GraftSession.local(cores = 8, shufflePartitions = 8)
    val dir = "/root/testdata/sf0.001"
    Queries.all.sortBy(_.name).foreach { q =>
      try {
        val df = q.run(spark, dir)
        val plan = df.queryExecution.executedPlan.toString
        val flags = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BroadcastNestedLoop" -> plan.contains("BroadcastNestedLoopJoin"),
          "SortMergeJoin" -> plan.contains("SortMergeJoin"),
          "noPushedFilters" -> (plan.contains("PushedFilters: []") &&
            plan.contains("DataFilters: [") && !plan.contains("PushedFilters: [Is")),
        ).collect { case (n, true) => n }
        val exchanges = plan.linesIterator.count(_.contains("Exchange"))
        println(f"${q.name}%-28s exchanges=$exchanges%-3d ${flags.mkString(",")}")
      } catch { case e: Throwable => println(s"${q.name} ERROR ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }

  private final case class JobRow(id: Int, start: Long, var end: Long,
                                  desc: String)

  /** Per-pass wall seconds, then the last pass's job table (jobId,
    * seconds, description/callsite) sorted by start, so a
    * fixture-heavy query decomposes into its build/ingest/read phases.
    */
  private def time(name: String, dir: String, passes: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("PROBE_CONF").foreach(_.split(',').filter(_.nonEmpty)
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    // AQE submits query-stage jobs from a thread pool, so a job's own
    // callsite is useless — attribute through the SQL execution that owns
    // it (executionId -> the ACTION's callsite), falling back to the
    // result stage's callsite for plain RDD jobs (checkpoint, collect).
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execSite.put(s.executionId, s.description.linesIterator
              .toSeq.headOption.getOrElse("?")): Unit
          case _ =>
        }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (record) {
          val stage = js.stageInfos.sortBy(_.stageId).lastOption
          val site = stage.map(_.name).getOrElse("?")
          val graftFrame = stage.map(_.details).getOrElse("")
            .split('\n').find(l => l.contains("graft.") &&
              !l.contains("graft.Probe")).map(_.trim).getOrElse("")
          val byExec = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => Option(execSite.get(id.toLong)))
          val desc = byExec.getOrElse(site) +
            (if (graftFrame.nonEmpty) s" | $graftFrame" else "")
          jobs.put(js.jobId, JobRow(js.jobId, js.time, js.time, desc))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) r.end = je.time
      }
    })
    (1 to passes).foreach { p =>
      jobs.clear()
      record = p == passes // job table for the warmed pass only
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[probe] pass $p: $secs%.3f s (rows=$n)")
    }
    record = false
    import scala.jdk.CollectionConverters._
    val rows = jobs.values.asScala.toSeq.sortBy(_.start)
    val total = rows.map(r => (r.end - r.start) / 1e3).sum
    println(f"[probe] last-pass job time sum: $total%.3f s over ${rows.size} jobs")
    rows.foreach { r =>
      val s = (r.end - r.start) / 1e3
      if (s >= 0.05) println(f"[probe]   job ${r.id}%4d ${s}%8.3f s  ${r.desc.take(160)}")
    }
    println("[probe] by call site:")
    rows.groupBy(_.desc).map { case (d, rs) =>
      (rs.map(r => (r.end - r.start) / 1e3).sum, rs.size, d) }
      .toSeq.sortBy(-_._1).take(30).foreach { case (s, n, d) =>
        println(f"[probe]   ${s}%8.3f s  x$n%-4d $d") }
    spark.stop()
  }
}
