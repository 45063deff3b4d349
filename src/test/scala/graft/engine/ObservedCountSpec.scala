package graft.engine

import graft.SparkSpec
import graft.core.model.{DatasetSpec, JobSpec}
import java.time.LocalDate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A landed period's row count comes from the write itself (a
  * `Dataset.observe` count on the written frame), for every sink a
  * DataFrameWriter file action lands — it must equal the rows read back.
  */
class ObservedCountSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_observed").toString

  private val schema = StructType(Seq(StructField("day", StringType),
    StructField("v", LongType)))

  /** Rows on 2024-01-01 (3) and 2024-01-03 (2); 2024-01-02 has none. */
  private def events(dir: String): String = {
    Seq(("2024-01-01", 1L), ("2024-01-01", 2L), ("2024-01-01", 3L),
        ("2024-01-03", 4L), ("2024-01-03", 5L))
      .toDF("day", "v").write.parquet(s"$dir/ev")
    s"$dir/ev"
  }

  private def job(dir: String, format: String,
                  mode: String = "no_schema"): JobSpec =
    JobSpec(name = s"observed_$format",
      inputs = Map("ev" -> DatasetSpec(path = events(dir), incField = Some("day"))),
      output = Some(DatasetSpec(path = s"$dir/out", format = format,
        incField = Some("day"))),
      incrementalMode = mode,
      sql = Some("SELECT day, v FROM ev"))

  private val first = LocalDate.parse("2024-01-01")
  private val until = LocalDate.parse("2024-01-03")

  test("parquet, csv and json periods count the rows the write landed, " +
      "a zero-row period included") {
    Seq("parquet", "csv", "json").foreach { fmt =>
      val dir = tmp()
      val passes = MultiPass.run(spark, job(dir, fmt), first, until, now = "r1")
      val readBack = passes.map { p =>
        spark.read.schema(schema).option("header", "true").format(fmt)
          .load(p.path.get).count()
      }
      assert(passes.map(_.rows) === Seq(3L, 0L, 2L), fmt)
      assert(passes.map(_.rows) === readBack, fmt)
    }
  }

  test("the count is observed, not recounted, for a file sink") {
    val dir = tmp()
    val res = Etl.runJob(spark, job(dir, "parquet"), period = Some("2024-01-01"),
      now = "r1")
    assert(res.writtenRows === Some(3L))
    val none = Etl.runJob(spark, job(tmp(), "parquet"), period = Some("2024-01-02"),
      now = "r1")
    assert(none.writtenRows === Some(0L))
    assert(Etl.runJob(spark, job(tmp(), "parquet"), period = Some("2024-01-01"),
      save = false).writtenRows === None)
    // a pk-checked sink persists its frame across check and write: the
    // observation rides the write of the persisted frame
    val pk = job(tmp(), "parquet")
    assert(Etl.runJob(spark, pk.copy(output = pk.output.map(_.copy(pk = Seq("v")))),
      period = Some("2024-01-01"), now = "r1").writtenRows === Some(3L))
  }

  test("a partitioned sink counts each period's rows, not the cumulative base") {
    val dir = tmp()
    val passes = MultiPass.run(spark, job(dir, "parquet", mode = "partitioned"),
      first, until, now = "r1")
    assert(passes.forall(_.path.contains(s"$dir/out")))
    val readBack = passes.map(p =>
      spark.read.parquet(s"$dir/out").filter(col("day") === p.period).count())
    assert(passes.map(_.rows) === Seq(3L, 0L, 2L))
    assert(passes.map(_.rows) === readBack)
    // observed, not recounted after a lost observation
    assert(Etl.runJob(spark, job(tmp(), "parquet", mode = "partitioned"),
      period = Some("2024-01-01"), now = "r1").writtenRows === Some(3L))
  }

  test("a period whose every input file is pruned by the skip manifest " +
      "lands zero rows") {
    val dir = tmp()
    val t0 = LocalDate.parse("2024-01-01").toEpochDay * 86400L
    spark.range(0, 10).select(timestamp_seconds(lit(t0) + col("id") * 60).as("ts"),
        col("id").as("v"))
      .coalesce(1).write.parquet(s"$dir/raw")
    graft.core.io.Skipping.emitManifest(spark, s"$dir/raw", Seq("ts"), s"$dir/raw_mf")
    val j = JobSpec(name = "pruned",
      inputs = Map("ev" -> DatasetSpec(path = s"$dir/raw", incField = Some("ts"),
        skipManifest = Some(s"$dir/raw_mf"))),
      output = Some(DatasetSpec(path = s"$dir/out", incField = Some("ts"))),
      sql = Some("SELECT ts, v FROM ev"))
    val passes = MultiPass.run(spark, j, first, LocalDate.parse("2024-01-02"),
      now = "r1")
    assert(passes.map(_.rows) === Seq(10L, 0L))
    assert(passes.map(p => spark.read.parquet(p.path.get).count()) === Seq(10L, 0L))
    // the pruned plan still carries the observation
    assert(Etl.runJob(spark, j, period = Some("2024-01-02"), now = "r2")
      .writtenRows === Some(0L))
  }
}
