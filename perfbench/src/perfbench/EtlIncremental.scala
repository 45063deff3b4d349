package perfbench

import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.core.model.Manifest
import graft.engine.{Flow, MultiPass}

/** The yaetos surface from a manifest, over a fact table of many days:
  * each round lands a window of days with a day-at-a-time incremental job
  * (skip-manifest pruned reader, stats-manifest sink) driven one period per
  * call, lets `MultiPass.resume` catch up the window's last day, then runs
  * a chained join → aggregate → window DAG into a pk-checked parquet sink.
  * A step is one landed period.
  *
  * The fact table has the shape of the repo's sf0.1 `events` table: 30
  * days of 3338 rows (its median rows per day) over 1500 user keys whose
  * rank-frequency fits Zipf(0.07), close to uniform.
  */
final class EtlIncremental extends Workload {
  val days = 30          // period count of the fact table
  val window = 3         // periods landed per round; the last by resume
  val rowsPerDay = 3338
  val users = 1500       // key cardinality
  val keySkew = 0.07     // Zipf exponent of the key
  val first: LocalDate = LocalDate.parse("2026-01-01")
  // the JIT is still compiling the driver-side planning and commit code
  // during the first three rounds (their walls fall by about a fifth)
  override val warmups = 3

  private var landedPerDay: Map[String, Long] = Map.empty
  private var rawFiles = 0

  def prepare(ctx: Ctx): Long = {
    val spark = ctx.spark
    val g = new Gen(ctx.seed)
    val keys = new g.Zipf(users, keySkew)
    val t0 = first.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val facts = (0 until days * rowsPerDay).map { i =>
      val day = i / rowsPerDay
      Row(i.toLong, new java.sql.Timestamp((t0 + day * 86400L + g.uniform(86400)) * 1000L),
        keys.draw().toLong + 1, (1 + g.uniform(100000)).toLong, g.uniform(10))
    }
    landedPerDay = facts.filter(_.getInt(4) > 0)
      .groupBy(r => r.getTimestamp(1).toInstant.toString.take(10)).map { case (d, rs) =>
        d -> rs.size.toLong }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_key", LongType),
      StructField("amount", LongType), StructField("qty", IntegerType)))
    // rows come day by day: one file per day, so the skip manifest can prune
    spark.createDataFrame(facts.asJava, schema).coalesce(1).write
      .option("maxRecordsPerFile", rowsPerDay).parquet(ctx.path("in/raw"))
    val segments = Seq("retail", "smb", "enterprise", "edu", "gov", "nonprofit")
    val regions = Seq("emea", "amer", "apac", "latam")
    val dim = (1 to users).map(k => Row(k.toLong, segments(g.uniform(segments.size)),
      regions(g.uniform(regions.size))))
    spark.createDataFrame(dim.asJava, StructType(Seq(StructField("user_key", LongType),
      StructField("segment", StringType), StructField("region", StringType))))
      .coalesce(1).write.parquet(ctx.path("in/dim"))
    rawFiles = graft.core.io.Skipping.emitManifest(spark, ctx.path("in/raw"),
      Seq("ts"), ctx.path("in/raw_manifest")).toInt
    Files.parquetBytes(ctx.path("in/raw")) + Files.parquetBytes(ctx.path("in/dim"))
  }

  def manifest(ctx: Ctx, dir: String): String =
    s"""jobs:
       |  land_events:
       |    inputs:
       |      events: {path: "${ctx.path("in/raw")}", type: parquet, inc_field: ts,
       |               skip_manifest: "${ctx.path("in/raw_manifest")}"}
       |    sql: "SELECT event_id, ts, user_key, amount, qty FROM events WHERE qty > 0"
       |    output: {path: "$dir/land", type: parquet, inc_field: ts,
       |             stats_manifest: "$dir/land_manifest", stats_cols: [ts, user_key]}
       |  enrich:
       |    inputs:
       |      events: {path: "$dir/land", type: parquet, glob: "inc_*"}
       |      users: {path: "${ctx.path("in/dim")}", type: parquet}
       |    sql: "SELECT e.event_id, e.user_key, e.amount, e.qty,
       |          CAST(to_date(e.ts) AS STRING) AS day, u.segment, u.region
       |          FROM events e JOIN users u ON e.user_key = u.user_key"
       |  daily:
       |    dependencies: [enrich]
       |    inputs: {enrich: {type: df}}
       |    sql: "SELECT day, segment, count(*) AS n_events,
       |          CAST(sum(amount) AS BIGINT) AS amount, CAST(sum(qty) AS BIGINT) AS qty,
       |          count(DISTINCT user_key) AS users FROM enrich GROUP BY day, segment"
       |  ranked:
       |    dependencies: [daily]
       |    inputs: {daily: {type: df}}
       |    sql: "SELECT day, segment, n_events, amount, qty, users,
       |          CAST(rank() OVER (PARTITION BY day ORDER BY amount DESC, segment) AS BIGINT)
       |            AS day_rank,
       |          CAST(sum(amount) OVER (PARTITION BY segment ORDER BY day
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_amount
       |          FROM daily"
       |    output: {path: "$dir/ranked", type: parquet, pk: [day, segment]}
       |""".stripMargin

  def round(ctx: Ctx, r: Int): Round = {
    val spark = ctx.spark
    val dir = ctx.path(s"r$r")
    val now = s"r$r"
    // rounds walk the table window by window
    val from = first.plusDays((r % (days / window)) * window)
    val until = from.plusDays(window - 1)
    val landed = collection.mutable.ArrayBuffer.empty[MultiPass.PassResult]
    val (steps, wall) = ctx.timed {
      val jobs = Manifest.parse(manifest(ctx, dir)).jobs
      val land = jobs("land_events")
      val steps = (0 until window).map { d =>
        val day = from.plusDays(d)
        val ts = System.nanoTime()
        landed ++= (if (d < window - 1)
          ctx.span("engine.run_job")(MultiPass.run(spark, land, day, day, now = now))
        else ctx.span("engine.resume")(MultiPass.resume(spark, land, from, until, now = now)))
        (System.nanoTime() - ts) / 1e9
      }
      ctx.span("engine.flow")(Flow.runPipeline(spark, jobs, "ranked", now = now,
        persistIntermediates = true))
      steps
    }
    val want = (0 until window).map(d => from.plusDays(d).toString)
      .map(d => d -> landedPerDay.getOrElse(d, 0L))
    val checks = Seq(Check("etl.passes", landed.map(p => p.period -> p.rows) == want,
      s"landed ${landed.map(p => p.period -> p.rows)}, want $want"))
    Round(wall, window.toLong * rowsPerDay, wall, steps, attempted = window + 1, checks,
      oracle = Seq(Map("kind" -> "etl", "raw" -> ctx.path("in/raw"),
        "dim" -> ctx.path("in/dim"), "land" -> s"$dir/land", "out" -> s"$dir/ranked",
        "from" -> from.toString, "until" -> until.toString)))
  }

  override def layerMetrics(ctx: Ctx, t: Tracer, rounds: Seq[Round]): Map[String, Double] = {
    val raw = ctx.path("in/raw")
    val execSpan = t.execSpan
    val rawScans = t.scans.asScala.toSeq.filter(s => execSpan.contains(t.execOf(s.queryId)) &&
      s.root.contains(raw))
    Map("core.io.files_pruned" ->
      rawScans.map(s => rawFiles - s.files).sum.toDouble / math.max(rounds.size, 1))
  }
}

/** Local file helpers for the scratch root. */
object Files {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  /** Sizes of the data files (not metadata or checksums) under `path`. */
  def dataFileSizes(path: String): Seq[Long] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Nil
    else java.nio.file.Files.walk(p).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      java.nio.file.Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.map(java.nio.file.Files.size(_)).toSeq
  }

  def parquetBytes(path: String): Long = dataFileSizes(path).sum
}
