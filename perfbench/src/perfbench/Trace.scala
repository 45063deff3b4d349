package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call the benchmark makes into graft. */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  val startMs: Long = System.currentTimeMillis()
  var end: Long = 0L
  var endMs: Long = 0L
  def seconds: Double = (end - start) / 1e9
}

/** One Spark job, attributed to the span that was open on the submitting
  * thread (local property) and to the graft module of the innermost
  * `graft.` frame of its call site.
  */
final class JobRec(val id: Int, val start: Long, val span: Int, val execId: Long,
                   val batch: Long, val frames: Seq[String], val site: String) {
  @volatile var end: Long = start
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def seconds: Double = (end - start) / 1e3
  /** Module of the innermost graft frame; "" when graft was not on the
    * stack (an action the benchmark ran on a frame graft returned).
    */
  def module: String = frames.headOption.map(Tracer.moduleOf).getOrElse("")
  def anyFrame(p: String => Boolean): Boolean = frames.exists(p)
}

/** A write command's SQL metrics and its target (path or table). */
final case class WriteRec(queryId: Long, files: Long, bytes: Long, commitMs: Long,
                          target: String)
final case class ScanRec(queryId: Long, root: String, files: Long)
/** One non-empty micro-batch of a streaming query. */
final case class BatchRec(queryId: String, triggerMs: Long, addBatchMs: Long)

/** Span recorder plus the job and query-execution listeners of the traced
  * run (micro-batches come from the run's one streaming listener, in
  * `Ctx`). Spans live in memory and are written out at the end; listener
  * records are joined to spans through the `perfbench.span` local property
  * carried by each job.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val execDetails = new ConcurrentHashMap[Long, String]()
  /** QueryExecution id → SQL execution id, from execution-end events. */
  private val queryExec = new ConcurrentHashMap[Long, Long]()
  val writes = new ConcurrentLinkedQueue[WriteRec]()
  val scans = new ConcurrentLinkedQueue[ScanRec]()
  val plans = new ConcurrentLinkedQueue[(Long, Double)]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0),
        System.nanoTime())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  def install(): Unit = {
    sc.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execDetails.put(s.executionId, s.details): Unit
        case e: SparkListenerSQLExecutionEnd =>
          PerfbenchBridge.queryId(e).foreach(q => queryExec.put(q, e.executionId))
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val span = prop(Tracer.SpanKey).map(_.toInt).getOrElse(0)
        if (span > 0) {
          val execId = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
          // AQE submits stage jobs from a thread pool: the SQL execution's
          // call site is the action's, the result stage's is the fallback
          val fromExec = Option(execDetails.get(execId)).map(Tracer.graftFrames)
            .getOrElse(Nil)
          val lastStage = js.stageInfos.sortBy(_.stageId).lastOption
          val fromStage = lastStage.map(st => Tracer.graftFrames(st.details)).getOrElse(Nil)
          val rec = new JobRec(js.jobId, js.time, span, execId,
            prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
            if (fromExec.nonEmpty) fromExec else fromStage,
            lastStage.map(_.name).getOrElse(""))
          jobs.put(js.jobId, rec)
          js.stageIds.foreach(id => stageJob.put(id, rec))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(te.stageId)).foreach { j =>
          val m = te.taskMetrics
          if (m != null) j.synchronized {
            j.tasks += 1
            j.taskMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            stageTaskMs.computeIfAbsent(te.stageId,
              _ => new ConcurrentLinkedQueue[Long]()).add(m.executorRunTime)
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        plans.add((qe.id, planMs / 1e3))
        Tracer.nodes(qe.executedPlan).foreach { n =>
          val m = n.metrics
          if (m.contains("numOutputBytes") && m.contains("numFiles")) {
            def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
            writes.add(WriteRec(qe.id, v("numFiles"), v("numOutputBytes"),
              v("taskCommitTime") + v("jobCommitTime"), n.toString.take(400)))
          } else if (n.nodeName.contains("Scan") && m.contains("numFiles")) {
            val root = n match {
              case f: org.apache.spark.sql.execution.FileSourceScanExec =>
                f.relation.location.rootPaths.headOption.map(_.toString).getOrElse("")
              case _ => ""
            }
            scans.add(ScanRec(qe.id, root, m("numFiles").value))
          }
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
  }

  /** Wait until every queued listener event has been handled. */
  def drain(): Unit = PerfbenchBridge.drainListeners(sc)

  /** The SQL execution id of a listener record's query execution, or -1. */
  def execOf(queryId: Long): Long = Option(queryExec.get(queryId)).map(_.toLong).getOrElse(-1L)

  def stageSkew: Seq[Double] =
    stageTaskMs.asScala.values.toSeq.map(_.asScala.toSeq).filter(_.size >= 4).map { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2).toDouble
      sorted.last / math.max(med, 1.0)
    }

  /** Execution id → span, through the jobs that ran under that execution. */
  def execSpan: Map[Long, Int] =
    jobs.values.asScala.filter(_.execId >= 0).map(j => j.execId -> j.span).toMap

  def execBatch: Map[Long, Long] =
    jobs.values.asScala.filter(j => j.execId >= 0 && j.batch >= 0)
      .map(j => j.execId -> j.batch).toMap
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** The `graft.` frames of a call-site stack, innermost first. */
  def graftFrames(details: String): Seq[String] =
    Option(details).toSeq.flatMap(_.split('\n')).map(_.trim.stripPrefix("at "))
      .filter(l => l.startsWith("graft.") || l.startsWith("org.apache.spark.sql.GraftSqlBridge"))

  def moduleOf(frame: String): String =
    if (frame.startsWith("graft.engine.")) "engine"
    else if (frame.startsWith("graft.core.io.")) "core.io"
    else if (frame.startsWith("graft.core.")) "core"
    else if (frame.startsWith("graft.ops.") || frame.startsWith("graft.jobs.")) "ops"
    else if (frame.startsWith("graft.functions.")) "functions"
    else if (frame.startsWith("graft.streaming.")) "streaming"
    else "other"

  /** Every node of a physical plan, looking through adaptive wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner ++ p.subqueries).flatMap(nodes)
  }
}
