package graft.sources

import graft.SparkSpec
import graft.core.Tables
import graft.core.io.{Reader, Writer}
import graft.core.model.{DatasetSpec, JobSpec}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Real JDBC round-trip against the embedded Derby engine that ships on
  * Spark's classpath (the Hive metastore's store) — proves the generic
  * JDBC source/sink path (SURVEY S7-S10 / K6-K8) end-to-end without a
  * network database: full write, full read, range-pushdown incremental
  * read, and append-mode incremental write.
  */
class JdbcDerbySpec extends SparkSpec {

  System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")

  private val dbDir = Files.createTempDirectory("graft_derby").toString + "/db"
  private val url = s"jdbc:derby:$dbDir;create=true"
  private val driverOpt = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  // Derby maps Spark StringType to CLOB, which Derby cannot compare in a
  // WHERE clause — the incremental field must be declared VARCHAR.
  private val createTypes = Map(
    "createTableColumnTypes" -> "o_orderstatus VARCHAR(2), day VARCHAR(10)")

  private def orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))

  test("Writer jdbc sink + Reader jdbc source round-trip through Derby") {
    val src = orders
    val job = JobSpec(name = "push_orders",
      output = Some(DatasetSpec(format = "jdbc",
        saveOptions = Map("url" -> url, "dbtable" -> "ORDERS_T")
          ++ driverOpt ++ createTypes)))
    Writer.write(src, job, job.output.get, now = "r1")
    val back = Reader.read(spark, DatasetSpec(format = "jdbc",
      readOptions = Jdbc.fullTableOptions(url, "ORDERS_T", driverOpt)))
    assert(back.count() == src.count())
    val a = src.agg(sum("o_totalprice")).head().getDouble(0)
    val b = back.agg(sum("o_totalprice")).head().getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("Etl.runJob pushes an incremental jdbc input's period into the database") {
    Jdbc.write(orders, url, "ORDERS_ETL", incremental = false,
      extra = driverOpt ++ createTypes)
    val period = orders.select("day").orderBy("day").head().getString(0)
    val job = JobSpec(name = "inc_pull",
      inputs = Map("src" -> DatasetSpec(format = "jdbc",
        incField = Some("day"),
        readOptions = Jdbc.fullTableOptions(url, "ORDERS_ETL", driverOpt))),
      sql = Some("SELECT day, count(*) AS n FROM src GROUP BY day"))
    val res = graft.engine.Etl.runJob(spark, job, period = Some(period),
      save = false)
    val rows = res.df.collect()
    assert(rows.length == 1 && rows(0).getString(0) == period)
    // the restriction ran IN the database: the scan's relation is built
    // from the pushed range query, not the full dbtable
    val scans = res.df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.toString
    }
    assert(scans.exists(s => s.contains("WHERE") && s.contains("day")),
      s"expected a pushed range query in the JDBC relation, got: $scans")
  }

  test("incremental read pushes the period range into the database query") {
    Jdbc.write(orders, url, "ORDERS_INC", incremental = false,
      extra = driverOpt ++ createTypes)
    val lo = "1996-01-01"
    val hi = "1997-01-01"
    val inc = Jdbc.read(spark,
      Jdbc.incrementalOptions(url, "ORDERS_INC", "day", lo, hi, driverOpt))
    val expected = orders.filter(col("day") >= lo && col("day") < hi).count()
    assert(expected > 0, "test period must select rows")
    assert(inc.count() == expected)
    // the predicate really ran in the database: the relation's schema comes
    // from the pushed query, and every returned day is inside the range
    val days = inc.agg(min("day"), max("day")).head()
    assert(days.getString(0) >= lo && days.getString(1) < hi)
  }

  test("dialect presets pin driver, URL shape, and default ports") {
    assert(Jdbc.mysql.connOptions("h1", "sales", "u", "pw") == Map(
      "url" -> "jdbc:mysql://h1:3306/sales",
      "driver" -> "com.mysql.cj.jdbc.Driver", "user" -> "u", "password" -> "pw"))
    assert(Jdbc.clickhouse.connOptions("ch", "events", "u", "pw") == Map(
      "url" -> "jdbc:postgresql://ch:9005/events",
      "driver" -> "org.postgresql.Driver", "user" -> "u", "password" -> "pw"))
    assert(Jdbc.redshift.connOptions("rs", "dw", "u", "pw", port = 5440) == Map(
      "url" -> "jdbc:redshift://rs:5440/dw",
      "driver" -> "com.amazon.redshift.jdbc42.Driver", "user" -> "u", "password" -> "pw"))
    assert(Jdbc.oracle.url("ora", "XEPDB1") == "jdbc:oracle:thin:@//ora:1521/XEPDB1")
    assert(Jdbc.postgres.url("pg", "app") == "jdbc:postgresql://pg:5432/app")
  }

  test("expandPreset collapses manifest shorthand and keeps explicit keys") {
    val expanded = Jdbc.expandPreset(Map("preset" -> "mysql", "host" -> "h",
      "port" -> "3307", "database" -> "d", "dbtable" -> "t", "user" -> "u"))
    assert(expanded == Map("url" -> "jdbc:mysql://h:3307/d",
      "driver" -> "com.mysql.cj.jdbc.Driver", "dbtable" -> "t", "user" -> "u"))
    // explicit driver override beats the preset's
    assert(Jdbc.expandPreset(Map("preset" -> "clickhouse", "host" -> "h",
      "database" -> "d",
      "driver" -> "com.clickhouse.jdbc.ClickHouseDriver"))("driver") ==
      "com.clickhouse.jdbc.ClickHouseDriver")
    // non-preset maps pass through untouched; unknown presets fail loudly
    val plain = Map("url" -> "jdbc:derby:x", "dbtable" -> "t")
    assert(Jdbc.expandPreset(plain) eq plain)
    assert(intercept[RuntimeException] {
      Jdbc.expandPreset(Map("preset" -> "nope", "host" -> "h"))
    }.getMessage.contains("unknown jdbc preset"))
  }

  test("presets build from a creds section like the reference's connectors") {
    val creds: graft.core.Secrets.Creds = Map("ch_prod" -> Map(
      "host" -> "ch.internal", "service" -> "analytics",
      "user" -> "svc", "password" -> "s3cret"))
    val opts = Jdbc.optionsFromCreds(Jdbc.clickhouse, creds, "ch_prod")
    assert(opts("url") == "jdbc:postgresql://ch.internal:9005/analytics")
    assert(opts("driver") == "org.postgresql.Driver")
    assert(opts("user") == "svc" && opts("password") == "s3cret")
  }

  test("non-preset jdbc specs flow through fromSpec against real Derby") {
    Jdbc.write(orders, url, "ORDERS_PRESET", incremental = false,
      extra = driverOpt ++ createTypes)
    val back = Jdbc.fromSpec(spark, DatasetSpec(format = "jdbc",
      readOptions = Jdbc.fullTableOptions(url, "ORDERS_PRESET", driverOpt)))
    assert(back.count() == orders.count())
  }

  test("preset shorthand is expanded by the production Reader/Writer paths") {
    // no mysql server exists here, so the proof of wiring is the FAILURE
    // MODE: Reader.read must die resolving the preset's driver class —
    // which only happens if expandPreset ran inside the production path
    // (unexpanded options would fail earlier with 'url' missing instead)
    val e = intercept[Throwable] {
      Reader.read(spark, DatasetSpec(format = "jdbc",
        readOptions = Map("preset" -> "mysql", "host" -> "nowhere",
          "database" -> "d", "dbtable" -> "t"))).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    val msgs = chain(e).map(c => c.getClass.getName + " " + c.getMessage).mkString("; ")
    assert(msgs.contains("com.mysql.cj.jdbc.Driver"), s"unexpected failure: $msgs")
    // presets whose URL NEEDS the database fail loudly AT EXPANSION...
    val miss = intercept[RuntimeException] {
      Reader.read(spark, DatasetSpec(format = "jdbc",
        readOptions = Map("preset" -> "oracle", "host" -> "h", "dbtable" -> "t")))
    }
    assert(miss.getMessage.contains("'database'"))
    // ...while mysql/postgres tolerate omission (driver/server-side default)
    assert(Jdbc.expandPreset(Map("preset" -> "postgres", "host" -> "h"))("url") ==
      "jdbc:postgresql://h:5432/")
  }

  test("incremental write appends instead of overwriting") {
    val first = orders.filter(col("day") < "1998-01-01")
    val second = orders.filter(col("day") >= "1998-01-01")
    Jdbc.write(first, url, "ORDERS_APPEND", incremental = false,
      extra = driverOpt ++ createTypes)
    Jdbc.write(second, url, "ORDERS_APPEND", incremental = true,
      extra = driverOpt ++ createTypes)
    val back = Jdbc.read(spark, Jdbc.fullTableOptions(url, "ORDERS_APPEND", driverOpt))
    assert(back.count() == orders.count())
  }

  test("a jdbc sink's period is recounted, never awaited as an observation") {
    val dir = Files.createTempDirectory("graft_jdbc_pass").toString
    orders.write.parquet(s"$dir/orders")
    val day = orders.select("day").orderBy("day").head().getString(0)
    val job = JobSpec(name = "land_jdbc",
      inputs = Map("o" -> DatasetSpec(path = s"$dir/orders", incField = Some("day"))),
      output = Some(DatasetSpec(format = "jdbc", incField = Some("day"),
        saveOptions = Map("url" -> url, "dbtable" -> "ORDERS_PASS")
          ++ driverOpt ++ createTypes)),
      sql = Some("SELECT o_orderkey, o_orderstatus, day FROM o"))
    val d = java.time.LocalDate.parse(day)
    val passes = graft.engine.MultiPass.run(spark, job, d, d, now = "r1")
    val want = orders.filter(col("day") === day).count()
    assert(want > 0 && passes.map(_.rows) === Seq(want))
    val back = Jdbc.read(spark, Jdbc.fullTableOptions(url, "ORDERS_PASS", driverOpt))
    assert(back.count() === want)
    // no observation rides a jdbc write: nothing to wait for
    val res = graft.engine.Etl.runJob(spark, job, period = Some(day), now = "r2")
    assert(res.writtenRows === None)
  }
}
