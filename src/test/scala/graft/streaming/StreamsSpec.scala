package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.sql.Timestamp

class StreamsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("windowedAgg: watermarked tumbling-window counts over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.windowedAgg(df, "ts", "event_type",
      watermarkDelay = "10 minutes", windowDur = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 00:02:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 00:07:00"), "click", 3.0),
        (Timestamp.valueOf("2024-01-01 00:03:00"), "view", 4.0))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT window_start, event_type, n, sum_value FROM win_counts
          |ORDER BY window_start, event_type""".stripMargin).collect()
      assert(rows.length == 3)
      assert(rows(0).getString(1) == "click" && rows(0).getLong(2) == 2L
        && rows(0).getDouble(3) == 3.0)
      assert(rows(1).getString(1) == "view" && rows(1).getLong(2) == 1L)
      assert(rows(2).getString(1) == "click" && rows(2).getLong(2) == 1L)
    } finally q.stop()
  }

  test("dedupStream drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "event_id")
    val q = Streams.dedupStream(df, "ts", Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 00:01:00"), 1L),
        (Timestamp.valueOf("2024-01-01 00:02:00"), 1L),
        (Timestamp.valueOf("2024-01-01 00:03:00"), 2L))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dedup_out").head().getLong(0) == 2L)
    } finally q.stop()
  }

  test("streamJoin matches keys within the event-time bound only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val buys = MemoryStream[(Timestamp, Long, Double)]
    val joined = Streams.streamJoin(
      clicks.toDF().toDF("cts", "uid", "page"),
      buys.toDF().toDF("bts", "uid", "amount"),
      key = "uid", leftTs = "cts", rightTs = "bts",
      watermarkDelay = "1 hour", within = "10 MINUTES")
    val q = joined.select("uid", "page", "amount")
      .writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    try {
      buys.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 9.99))
      clicks.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "inside"),   // within 10m
        (Timestamp.valueOf("2024-01-01 10:20:00"), 1L, "too_late"), // outside
        (Timestamp.valueOf("2024-01-01 10:05:00"), 2L, "wrong_key"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT uid, page, amount FROM sj_out").collect()
      assert(rows.map(_.getString(1)).toSeq == Seq("inside"))
      assert(rows.head.getLong(0) == 1L && rows.head.getDouble(2) == 9.99)
    } finally q.stop()
  }

  test("Sessionize.fold closes sessions on gap and accumulates otherwise") {
    import Sessionize._
    val events = Seq(Event(1, 1000, 1.0), Event(1, 2000, 2.0), Event(1, 99000, 3.0))
    val (state, closed) = fold(None, events, gapMs = 30000)
    assert(closed.map(_._1) == Seq(SessionState(1000, 2000, 2, 3.0)))
    assert(state.contains(SessionState(99000, 99000, 1, 3.0)))
  }

  test("Sessionize.sessions emits closed sessions through the stateful stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import Sessionize._
    val mem = MemoryStream[Event]
    val q = sessions(mem.toDS(), gapMs = 30000, idleTimeout = false)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      mem.addData(Event(7, 1000, 1.0), Event(7, 2000, 2.0))
      q.processAllAvailable()
      mem.addData(Event(7, 99000, 5.0)) // gap > 30s closes the first session
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, start_ms, end_ms, n_events, sum_value FROM sessions_out").collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(0) == 7L && rows(0).getLong(1) == 1000L
        && rows(0).getLong(2) == 2000L && rows(0).getLong(3) == 2L)
    } finally q.stop()
  }

  test("sessionsEventTime flushes idle keys when the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import Sessionize._
    val mem = MemoryStream[Event]
    val q = sessionsEventTime(mem.toDS(), gapMs = 30000,
        watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("sessions_et_out")
      .outputMode("append").start()
    try {
      mem.addData(Event(7, 1000, 1.0), Event(7, 2000, 2.0))
      q.processAllAvailable()
      // no same-key event arrives; a LATER key advances the watermark to
      // 110000 > 2000 + 30000, so key 7's session flushes via timeout in
      // the no-data batch — wall clock plays no part
      mem.addData(Event(8, 120000, 5.0))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT user_id, start_ms, end_ms, n_events, sum_value
          |FROM sessions_et_out ORDER BY user_id""".stripMargin).collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(0) == 7L && rows(0).getLong(1) == 1000L
        && rows(0).getLong(2) == 2000L && rows(0).getLong(3) == 2L
        && rows(0).getDouble(4) == 3.0)
    } finally q.stop()
  }

  test("reservoirSampleSink: merged partials == batch sampler; replay leaves one copy") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_res").toString
    val docs = (1 to 200).map(i =>
      (i.toLong, s"s${i % 4}", (i % 37 + 1).toLong)).toDF("id", "grp", "w")
    val truth = graft.ops.Sampling
      .prioritySamplePerGroup(docs, "id", "grp", "w", n = 5)
      .select("id", "grp", "w", "key_micro", "rank")
      .collect().map(_.toSeq).sortBy(_.toString)
    // three disjoint chunks through the sink's per-batch body
    def partial(b: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.reservoirPartial(b, "id", "grp", "w", n = 5)
    (0 until 3).foreach { b =>
      Streams.applyPartialsBatch(docs.filter(col("id") % 3 === b),
        s"$out/p", b.toLong)(partial)
    }
    // at-least-once replay of batch 1: the delete-first contract plus the
    // largest-key-per-id collapse must leave the reservoir unchanged
    Streams.applyPartialsBatch(docs.filter(col("id") % 3 === 1),
      s"$out/p", 1L)(partial)
    val merged = Streams.loadReservoir(spark, s"$out/p", "id", "grp", n = 5)
      .select("id", "grp", "w", "key_micro", "rank")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(merged === truth)
  }

  test("KafkaSink.payload builds per-record JSON; validateRequired splits nulls") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, null.asInstanceOf[String])).toDF("id", "s")
    val p = KafkaSink.payload(df, keyCol = Some("id")).collect()
    assert(p.map(_.getString(0)).toSeq == Seq("1", "2"))
    assert(p(0).getString(1) == """{"id":1,"s":"a"}""")
    val (ok, bad) = KafkaSink.validateRequired(df, Seq("id", "s"))
    assert(ok.count() == 1 && bad.count() == 1)
    assertThrows[IllegalArgumentException](
      KafkaSink.validateRequired(df, Seq("missing_col")))
  }

  test("sessionize fails loudly when one key floods a micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Sessionize.Event]
    val sess = Sessionize.sessions(mem.toDS(), gapMs = 1000,
      idleTimeout = false, maxBatchEventsPerKey = 2)
    val q = sess.toDF.writeStream.format("memory").queryName("flood_sessions")
      .outputMode("append").start()
    try {
      mem.addData(Sessionize.Event(7L, 1000L, 1.0),
        Sessionize.Event(7L, 1100L, 1.0), Sessionize.Event(7L, 1200L, 1.0))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(String.valueOf(e.getCause).contains("key 7"))
    } finally q.stop()
  }

  test("writeIncrement replay with the same batch id leaves exactly one copy") {
    import spark.implicits._
    import graft.core.model.{DatasetSpec, JobSpec}
    val dir = java.nio.file.Files.createTempDirectory("graft_winc").toString
    val out = DatasetSpec(path = s"$dir/sink", format = "parquet",
      incField = Some("d"))
    val job = JobSpec(name = "j", output = Some(out))
    val batch = Seq((1L, "2024-01-01"), (2L, "2024-01-01")).toDF("id", "d")
    Streams.writeIncrement(batch, job, out, now = "n1", id = 7L)
    // failure-before-checkpoint-commit replays the SAME batch id: the
    // increment must be rewritten, not appended a second time
    Streams.writeIncrement(batch, job, out, now = "n1", id = 7L)
    assert(spark.read.parquet(s"$dir/sink/inc_n1_batch7").count() == 2)
  }

  test("writeIncrement stats_manifest tick: per-batch maintenance keeps " +
      "the manifest equal to a full rebuild, including under replay") {
    import spark.implicits._
    import graft.core.model.{DatasetSpec, JobSpec}
    val dir = java.nio.file.Files.createTempDirectory("graft_wmf").toString
    val out = DatasetSpec(path = s"$dir/sink", format = "parquet",
      incField = Some("d"), statsManifest = Some(s"$dir/manifest"),
      statsCols = Seq("id"))
    val job = JobSpec(name = "j", output = Some(out))
    def batch(lo: Long) = (lo until lo + 4)
      .map(i => (i, "2024-01-01")).toDF("id", "d")
    Streams.writeIncrement(batch(0), job, out, now = "n1", id = 0L)
    Streams.writeIncrement(batch(100), job, out, now = "n1", id = 1L)
    // crash-before-checkpoint-commit replay: batch 1's increment dir is
    // deleted and rewritten; the manifest tick must drop the vanished
    // files' rows and profile the rewrites — never double-count
    Streams.writeIncrement(batch(100), job, out, now = "n1", id = 1L)
    val rebuilt = s"$dir/rebuilt"
    graft.core.io.Skipping.writeStatsManifest(spark, s"$dir/sink",
      Seq("id"), rebuilt)
    val got = spark.read.parquet(s"$dir/manifest")
      .collect().map(_.toSeq).toSet
    val want = spark.read.parquet(rebuilt).collect().map(_.toSeq).toSet
    assert(got === want,
      "per-batch ticks must converge to the rebuild manifest")
    // and the maintained manifest actually prunes: batch 0 holds ids
    // 0..3, batch 1 holds 100..103 — a probe on one range drops the
    // other increment's files
    val pr = graft.core.io.Skipping.pruneFiles(spark, s"$dir/sink",
      s"$dir/manifest",
      Seq(graft.core.io.Skipping.ColumnRange("id", Some(0L), Some(3L))))
    assert(pr.unlistedFiles === 0 && pr.readFiles < pr.manifestFiles)
  }

  test("psiDriftSink: streamed partials score identically to the batch " +
      "psi; batch replay leaves one copy") {
    import spark.implicits._
    import graft.ops.Stats
    val dir = java.nio.file.Files.createTempDirectory("graft_psink").toString
    val ref = (1 to 1000).map(_.toDouble).toDF("v")
    Stats.writePsiReference(ref, "v", s"$dir/ref", bins = 5)
    val cur = (1 to 600).map(i => i.toDouble + 200).toDF("v")
    // three chronological chunks through a real file stream
    (0 until 3).foreach(i => cur.filter(pmod(col("v").cast("long"), lit(3)) === i)
      .coalesce(1).write.mode("append").parquet(s"$dir/feed"))
    val stream = spark.readStream.schema("v DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/feed")
    val edges = Stats.loadPsiEdges(spark, s"$dir/ref")
    val q = Streams.partialsSink(stream, s"$dir/partials", s"$dir/ckpt")(
      Stats.psiCurrentPartial(_, "v", edges))
    try q.processAllAvailable() finally q.stop()
    def score() = Stats.psiFromPartials(spark, s"$dir/ref",
        spark.read.parquet(s"$dir/partials/batch*"))
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    val batchScore = Stats.psi(ref, cur, "v", bins = 5)
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    assert(score() === batchScore)
    // failure-before-checkpoint-commit replays a batch id: the partial
    // is rewritten, never double-counted
    Streams.applyPartialsBatch(cur.limit(100), s"$dir/partials", id = 0L)(
      Stats.psiCurrentPartial(_, "v", edges))
    Streams.applyPartialsBatch(cur.limit(100), s"$dir/partials", id = 0L)(
      Stats.psiCurrentPartial(_, "v", edges))
    val n0 = spark.read.parquet(s"$dir/partials/batch0")
      .agg(sum("n_cur")).head().getLong(0)
    assert(n0 === 100L)
  }

  test("ksDriftSink: streamed value-count partials score identically to " +
      "the batch ksStatistic; batch replay leaves one copy") {
    import spark.implicits._
    import graft.ops.Stats
    val dir = java.nio.file.Files.createTempDirectory("graft_ksink").toString
    val refRows = (1 to 1000).map(_.toDouble)
    val ref = refRows.toDF("v")
    Stats.writeKsReference(ref, "v", s"$dir/ref")
    val cur = (1 to 600).map(i => i.toDouble * 1.1 + 50).toDF("v")
    (0 until 3).foreach(i => cur.filter(pmod(col("v").cast("long"), lit(3)) === i)
      .coalesce(1).write.mode("append").parquet(s"$dir/feed"))
    val stream = spark.readStream.schema("v DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/feed")
    val q = Streams.partialsSink(stream, s"$dir/partials", s"$dir/ckpt")(
      Stats.ksCurrentPartial(_, "v"))
    try q.processAllAvailable() finally q.stop()
    def score() = Stats.ksFromPartials(spark, s"$dir/ref",
        spark.read.parquet(s"$dir/partials/batch*"), buckets = 16)
      .collect().map(_.toSeq).toSeq
    val batchScore = Stats.ksStatistic(ref, cur, "v", buckets = 16)
      .collect().map(_.toSeq).toSeq
    assert(score() === batchScore)
    // failure-before-checkpoint-commit replays a batch id: the partial
    // is rewritten, never double-counted
    Streams.applyPartialsBatch(cur.limit(100), s"$dir/partials", id = 0L)(
      Stats.ksCurrentPartial(_, "v"))
    Streams.applyPartialsBatch(cur.limit(100), s"$dir/partials", id = 0L)(
      Stats.ksCurrentPartial(_, "v"))
    val n0 = spark.read.parquet(s"$dir/partials/batch0")
      .agg(sum("n_cur")).head().getLong(0)
    assert(n0 === 100L)
  }

  /** File scans under `dir` over every action `body` runs — including
    * a stream's micro-batches, whose cloned session inherits listeners
    * registered before the query starts. Listener events arrive async
    * but FIFO, so a sentinel action posted last proves body's events
    * were delivered.
    */
  private def scansUnder(dir: String)(body: => Unit): Int = {
    import spark.implicits._
    val n = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var sentinelSeen = false
    val sentinelCol = "refscan_sentinel"
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(sentinelCol)) sentinelSeen = true
        else n.addAndGet(collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s.relation.location.rootPaths
        }.flatten.count(_.toString.contains(dir)))
      override def onFailure(funcName: String, qe: QueryExecution,
                             error: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      Seq(1).toDF(sentinelCol).count()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime < deadline) Thread.sleep(10)
      assert(sentinelSeen, "listener never delivered the sentinel action")
      n.get()
    } finally spark.listenerManager.unregister(l)
  }

  test("a PSI partials drain loads the reference once: no micro-batch " +
      "scans <ref>/edges or <ref>/buckets (scalar and per-group)") {
    import spark.implicits._
    import graft.ops.Stats
    val dir = java.nio.file.Files.createTempDirectory("graft_psiload").toString
    val ref = (1 to 900).map(i => (if (i % 3 == 0) "a" else "b",
      i.toDouble)).toDF("g", "v")
    (0 until 3).foreach(i => ref.select(col("g"), (col("v") + 40).as("v"))
      .filter(pmod(col("v").cast("long"), lit(3)) === i)
      .coalesce(1).write.mode("append").parquet(s"$dir/feed"))
    for ((form, g) <- Seq("scalar" -> None, "by_group" -> Some("g"))) {
      val refDir = s"$dir/ref_$form"
      Stats.writePsiReference(ref, "v", refDir, bins = 5, groupCol = g)
      val edges = Stats.loadPsiEdges(spark, refDir) // once per drain
      val stream = spark.readStream.schema("g STRING, v DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/feed")
      val drained = scansUnder(refDir) {
        val q = Streams.partialsSink(stream, s"$dir/p_$form",
          s"$dir/ckpt_$form")(Stats.psiCurrentPartial(_, "v", edges, g))
        try q.processAllAvailable() finally q.stop()
      }
      assert((0 until 3).forall(b => new java.io.File(
        s"$dir/p_$form/batch$b").isDirectory), s"$form: 3 batches landed")
      assert(drained === 0, s"$form: micro-batches read the reference")
      // the listener does see reference reads: scoring scans buckets
      assert(scansUnder(refDir)(Stats.psiFromPartials(spark, refDir,
        spark.read.parquet(s"$dir/p_$form/batch*")).collect(): Unit) > 0)
    }
  }

  test("psiByGroupDriftSink / ksByGroupDriftSink: streamed per-group " +
      "partials score identically to the batch slice matrices; replay " +
      "leaves one copy") {
    import spark.implicits._
    import graft.ops.Stats
    val dir = java.nio.file.Files.createTempDirectory("graft_gsink").toString
    val ref = (1 to 900).map(i => (if (i % 3 == 0) "a" else "b",
      i.toDouble)).toDF("g", "v")
    val cur = (1 to 600).map(i => (if (i % 3 == 0) "a" else "b",
      i.toDouble * (if (i % 3 == 0) 1.3 else 1.0) + 40)).toDF("g", "v")
    Stats.writePsiReference(ref, "v", s"$dir/pref", bins = 5,
      groupCol = Some("g"))
    Stats.writeKsReference(ref, "v", s"$dir/kref", Some("g"))
    (0 until 3).foreach(i => cur
      .filter(pmod(col("v").cast("long"), lit(3)) === i)
      .coalesce(1).write.mode("append").parquet(s"$dir/feed"))
    def stream = spark.readStream.schema("g STRING, v DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/feed")
    val edges = Stats.loadPsiEdges(spark, s"$dir/pref")
    def psiPartial(b: org.apache.spark.sql.DataFrame) =
      Stats.psiCurrentPartial(b, "v", edges, Some("g"))
    def ksPartial(b: org.apache.spark.sql.DataFrame) =
      Stats.ksCurrentPartial(b, "v", Some("g"))
    val qp = Streams.partialsSink(stream, s"$dir/pp", s"$dir/pckpt")(psiPartial)
    try qp.processAllAvailable() finally qp.stop()
    val qk = Streams.partialsSink(stream, s"$dir/kp", s"$dir/kckpt")(ksPartial)
    try qk.processAllAvailable() finally qk.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq
    assert(canon(Stats.psiFromPartials(spark, s"$dir/pref",
        spark.read.parquet(s"$dir/pp/batch*"))) ===
      canon(Stats.psiByGroup(ref, cur, "g", "v", bins = 5)),
      "streamed per-group PSI must equal the batch recompute")
    assert(canon(Stats.ksFromPartials(spark, s"$dir/kref",
        spark.read.parquet(s"$dir/kp/batch*"), buckets = 8)) ===
      canon(Stats.ksByGroup(ref, cur, "g", "v", buckets = 8)),
      "streamed per-group KS must equal the batch recompute")
    // failure-before-checkpoint-commit replays a batch id: partials are
    // rewritten, never double-counted
    Streams.applyPartialsBatch(cur.limit(90), s"$dir/pp", id = 0L)(psiPartial)
    Streams.applyPartialsBatch(cur.limit(90), s"$dir/pp", id = 0L)(psiPartial)
    assert(spark.read.parquet(s"$dir/pp/batch0")
      .agg(sum("n_cur")).head().getLong(0) === 90L)
    Streams.applyPartialsBatch(cur.limit(90), s"$dir/kp", id = 0L)(ksPartial)
    Streams.applyPartialsBatch(cur.limit(90), s"$dir/kp", id = 0L)(ksPartial)
    assert(spark.read.parquet(s"$dir/kp/batch0")
      .agg(sum("n_cur")).head().getLong(0) === 90L)
  }

  test("KafkaSink.push degrades cleanly when the connector jar is absent") {
    import spark.implicits._
    // this image has no spark-sql-kafka jar — the probe must say so
    assert(!KafkaSink.transportAvailable)
    val df = Seq((1L, "a"), (2L, null.asInstanceOf[String])).toDF("id", "s")
    val res = KafkaSink.push(df, "localhost:9092", "t",
      required = Seq("id", "s"), keyCol = Some("id"))
    // nothing was sent, but the payload is the exact frame format("kafka")
    // consumes and validation still split the bad row
    assert(!res.sent)
    assert(res.payload.columns.toSeq == Seq("key", "value"))
    assert(res.payload.count() == 1 && res.invalid.count() == 1)
    assert(res.payload.head().getString(1) == """{"id":1,"s":"a"}""")
    // no required fields -> everything valid, invalid side empty
    val all = KafkaSink.push(df, "localhost:9092", "t")
    assert(all.invalid.isEmpty && all.payload.count() == 2)
  }

  test("KafkaSink.push executes the full send branch through a stand-in transport") {
    import spark.implicits._
    RecordingKafkaProvider.clear()
    val fmt = classOf[RecordingKafkaProvider].getName
    // the stand-in resolves through the same per-format probe the real
    // connector uses
    assert(KafkaSink.transportAvailableFor(fmt))
    val df = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val res = KafkaSink.push(df, "broker0:9092,broker1:9092", "events.v1",
      required = Seq("id", "s"), keyCol = Some("id"), format = fmt)
    // the send branch genuinely ran: sent=true and the provider received
    // the exact (key, value) frame plus the producer options
    assert(res.sent)
    assert(RecordingKafkaProvider.sends.size == 1)
    val (opts, rows) = RecordingKafkaProvider.sends.head
    assert(opts("kafka.bootstrap.servers") == "broker0:9092,broker1:9092")
    assert(opts("topic") == "events.v1")
    assert(rows.sortBy(_._1) == Seq(
      Some("1") -> """{"id":1,"s":"a"}""",
      Some("2") -> """{"id":2,"s":"b"}"""))
    // a format that doesn't resolve degrades exactly like the absent jar
    val miss = KafkaSink.push(df, "b:9092", "t",
      format = "com.example.NoSuchProvider")
    assert(!miss.sent && miss.payload.count() == 3)
  }
}

/** Recording stand-in for the Kafka connector: a v1
  * `CreatableRelationProvider` addressed by class name through
  * `KafkaSink.push`'s `format` seam. It receives exactly what the real
  * connector would — the (key, value) frame and the producer options —
  * through the identical `.write.format(...).save()` plumbing, and
  * records both driver-side so the spec can assert the send branch
  * end-to-end. (createRelation runs on the driver; the collect here is
  * the fake transport, not a pattern for real sinks.)
  */
class RecordingKafkaProvider
    extends org.apache.spark.sql.sources.CreatableRelationProvider {
  import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
  import org.apache.spark.sql.sources.BaseRelation
  import org.apache.spark.sql.types.StructType
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val hasKey = data.columns.contains("key")
    val rows = data.collect().toSeq.map { r =>
      val key = if (hasKey) Option(r.getAs[String]("key")) else None
      key -> r.getAs[String]("value")
    }
    RecordingKafkaProvider.append(parameters, rows)
    val outSchema = data.schema
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = outSchema
    }
  }
}

object RecordingKafkaProvider {
  private val buf =
    scala.collection.mutable.ListBuffer
      .empty[(Map[String, String], Seq[(Option[String], String)])]
  def append(opts: Map[String, String],
             rows: Seq[(Option[String], String)]): Unit =
    synchronized { buf += (opts -> rows) }
  def sends: List[(Map[String, String], Seq[(Option[String], String)])] =
    synchronized { buf.toList }
  def clear(): Unit = synchronized { buf.clear() }
}

class TypedAndJdbcSpec extends SparkSpec {

  test("typed wordcount matches the explode/groupBy plan") {
    import spark.implicits._
    val lines = Seq("a b a", "b  c").toDS()
    val m = graft.ops.Typed.wordcount(lines).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }

  test("jdbc incremental options push the period range into the db query") {
    val opts = graft.sources.Jdbc.incrementalOptions(
      "jdbc:mysql://host/db", "events", "created_at", "2024-01-01", "2024-01-02")
    assert(opts("query") ==
      "SELECT * FROM events WHERE \"created_at\" >= '2024-01-01' AND \"created_at\" < '2024-01-02'")
    assert(opts("fetchsize") == "10000" && opts("numPartitions") == "3")
    // hostile inputs can't escape the quoting
    val hostile = graft.sources.Jdbc.incrementalOptions(
      "jdbc:x://h/d", "t", """f" --""", "2024-01-01' OR '1'='1", "x")
    assert(hostile("query").contains("\"f\"\" --\"") &&
      hostile("query").contains("'2024-01-01'' OR ''1''=''1'"))
    // legacy unquoted-DDL tables: quoteField=false keeps case-insensitive
    // resolution but only for plain identifiers
    val unquoted = graft.sources.Jdbc.incrementalOptions(
      "jdbc:x://h/d", "t", "created_at", "a", "b", quoteField = false)
    assert(unquoted("query").contains("WHERE created_at >="))
    intercept[IllegalArgumentException](graft.sources.Jdbc.incrementalOptions(
      "jdbc:x://h/d", "t", "bad name", "a", "b", quoteField = false))
    val part = graft.sources.Jdbc.partitionedOptions(
      "jdbc:x://h/d", "t", "id", 0L, 1000L, 8)
    assert(part("partitionColumn") == "id" && part("numPartitions") == "8")
  }

  test("columnStats yields summary rows per numeric column") {
    import spark.implicits._
    val s = graft.ops.Compare.columnStats(Seq(1.0, 2.0, 3.0).toDF("v")).collect()
    val m = s.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("count") == "3" && m("min") == "1.0" && m("max") == "3.0")
  }
}

class NearDupSinkSpec extends SparkSpec {

  private val base = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
  private val fresh = "completely different words about spark shuffles and parquet row groups here"

  test("ingest high-water mark: the sink stamps the checkpoint before " +
      "appending, and the fresh-batch append equals the probing append") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hwm_sink").toString
    Seq("hwm_ndx", "hwm_ndx2").foreach(n =>
      Seq("_shingles", "_buckets", "_meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $n$s")))
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", "hwm_ndx",
      numBuckets = 4)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupSink(mem.toDF().toDF("doc_id", "text"), "hwm_ndx",
      "doc_id", "text", threshold = 0.8, maxBandFreq = None,
      acceptedPath = s"$dir/acc", checkpoint = s"$dir/ckpt")
    try {
      mem.addData((21L, fresh))
      q.processAllAvailable()
      mem.addData((31L, "entirely unrelated text about catalyst plans and shuffle partitions today"))
      q.processAllAvailable()
    } finally q.stop()
    // the mark trails the last batch that started an append
    val hwm = scala.io.Source.fromFile(s"$dir/ckpt/graft_ingest_hwm").mkString.trim
    assert(hwm == "1", s"expected mark 1, got $hwm")
    // fresh-path append (what batch 1 took — its id was above the mark)
    // produced the same index rows the probing path builds: replay the
    // same ingest sequence through the always-probe public API
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", "hwm_ndx2",
      numBuckets = 4)
    val idx2 = graft.ops.Dedup.loadNearDupIndex(spark, "hwm_ndx2")
    Seq(Seq((21L, fresh)),
      Seq((31L, "entirely unrelated text about catalyst plans and shuffle partitions today")))
      .foreach { b =>
        graft.ops.Dedup.dropNearDuplicatesAgainst(idx2,
          b.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.8,
          maxBandFreq = None, appendAccepted = true,
          excludeSelfIds = true).count()
      }
    Seq("_shingles", "_buckets").foreach { s =>
      spark.catalog.refreshTable(s"hwm_ndx$s")
      val a = spark.table(s"hwm_ndx$s").collect().toSet
      val b = spark.table(s"hwm_ndx2$s").collect().toSet
      assert(a == b, s"fresh-path $s rows differ from the probing path")
    }
    // a batch id at or below the mark is NOT fresh: the direct apply
    // (probing path, assumeFresh default false) replays batch 1 with no
    // index duplication — the existing replay contract, now doubling as
    // the mark's fallback-path check
    val before = spark.table("hwm_ndx_shingles").count()
    Streams.applyNearDupBatch(
      Seq((31L, "entirely unrelated text about catalyst plans and shuffle partitions today"))
        .toDF("doc_id", "text"),
      "hwm_ndx", "doc_id", "text", threshold = 0.8, maxBandFreq = None,
      acceptedPath = s"$dir/acc", id = 1L)
    spark.catalog.refreshTable("hwm_ndx_shingles")
    assert(spark.table("hwm_ndx_shingles").count() == before,
      "replayed batch through the probing path must not duplicate rows")
    Seq("hwm_ndx", "hwm_ndx2").foreach(n =>
      Seq("_shingles", "_buckets", "_meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $n$s")))
  }

  test("nearDupSink ingests micro-batches against the index; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_sink").toString
    Seq("_shingles", "_buckets", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS sink_ndx$s"))
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", "sink_ndx",
      numBuckets = 4)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupSink(mem.toDF().toDF("doc_id", "text"), "sink_ndx",
      "doc_id", "text", threshold = 0.8, maxBandFreq = None,
      acceptedPath = s"$dir/acc", checkpoint = s"$dir/ckpt")
    try {
      // batch 0: one corpus near-dup (drops), one fresh (accepted+appended)
      mem.addData((20L, base + " again"), (21L, fresh))
      q.processAllAvailable()
      // batch 1: near-dup of batch 0's accepted doc — must drop against
      // the GROWN index; one genuinely new doc survives
      mem.addData((30L, fresh + " too"),
        (31L, "entirely unrelated text about catalyst plans and shuffle partitions today"))
      q.processAllAvailable()
    } finally q.stop()
    def acceptedIds(batch: Int): Set[Long] =
      spark.read.parquet(s"$dir/acc/batch$batch")
        .select("doc_id").as[Long].collect().toSet
    assert(acceptedIds(0) == Set(21L))
    assert(acceptedIds(1) == Set(31L))
    // crash-replay of batch 1 (same data, same id): identical increment,
    // no index duplication — the batch must NOT drop against its own
    // first-run index entries
    // the stream's micro-batch session appended files; refresh this
    // session's cached listing before counting
    spark.catalog.refreshTable("sink_ndx_shingles")
    val shinglesBefore = spark.table("sink_ndx_shingles").count()
    Streams.applyNearDupBatch(
      Seq((30L, fresh + " too"),
        (31L, "entirely unrelated text about catalyst plans and shuffle partitions today"))
        .toDF("doc_id", "text"),
      "sink_ndx", "doc_id", "text", threshold = 0.8, maxBandFreq = None,
      acceptedPath = s"$dir/acc", id = 1L)
    assert(acceptedIds(1) == Set(31L),
      "replayed batch must rewrite the identical increment")
    assert(spark.table("sink_ndx_shingles").count() == shinglesBefore,
      "replayed batch must not duplicate index rows")
    Seq("_shingles", "_buckets", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS sink_ndx$s"))
  }

  test("nearDupSink clustersPath: per-batch fold equals the full recompute " +
      "over discovered edges; batch replay leaves the clusters unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ndc_sink").toString
    Seq("_shingles", "_buckets", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS clus_ndx$s"))
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", "clus_ndx",
      numBuckets = 4)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupSink(mem.toDF().toDF("doc_id", "text"), "clus_ndx",
      "doc_id", "text", threshold = 0.8, maxBandFreq = None,
      acceptedPath = s"$dir/acc", checkpoint = s"$dir/ckpt",
      clustersPath = Some(s"$dir/clusters"))
    val b1 = Seq((20L, base + " again"), (21L, fresh))
    val b2 = Seq((30L, fresh + " too"),
      (31L, "entirely unrelated text about catalyst plans and shuffle partitions today"))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def clusters(): Map[Long, Long] =
      Streams.loadClusters(spark, s"$dir/clusters")
        .as[(Long, Long)].collect().toMap
    // discovered edges: 20–10 (corpus dup), 30–21 (cross-batch dup);
    // components carry the min id; 31 stays a singleton
    val want = Map(10L -> 10L, 20L -> 10L, 21L -> 21L, 30L -> 21L,
      31L -> 31L)
    assert(clusters() === want)
    // crash-replay of batch 1: same pairs recomputed (its own first-run
    // index entries excluded from the corpus side), fold is a no-op
    Streams.applyNearDupBatch(b2.toDF("doc_id", "text"), "clus_ndx",
      "doc_id", "text", threshold = 0.8, maxBandFreq = None,
      acceptedPath = s"$dir/acc", id = 1L,
      clustersPath = Some(s"$dir/clusters"))
    assert(clusters() === want, "replayed batch must not change clusters")
    // equals the full recompute over everything streamed (q51 pattern)
    val all = (corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      ++ b1 ++ b2).toSeq.toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.jaccardPairs(all, "doc_id", "text",
      threshold = 0.8)
    val full = graft.ops.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val streamedIds = (b1 ++ b2).map(_._1)
    val fullLabels = streamedIds.map(id =>
      id -> full.getOrElse(id, id)).toMap ++ full
    assert(clusters() === fullLabels)
    // a batch with ZERO discovered edges takes the no-CC fast fold:
    // standing labels untouched, fresh ids appended as singletons
    Streams.applyNearDupBatch(
      Seq((40L, "totally novel sentence mentioning adaptive query " +
        "execution and skew hints only")).toDF("doc_id", "text"),
      "clus_ndx", "doc_id", "text", threshold = 0.8, maxBandFreq = None,
      acceptedPath = s"$dir/acc", id = 2L,
      clustersPath = Some(s"$dir/clusters"))
    assert(clusters() === want + (40L -> 40L))
    // the zero-pair batch's landing wrote O(|batch|) label rows — its
    // own self-label only, NOT a rewrite of the standing snapshot
    assert(spark.read.parquet(s"$dir/clusters/inc_b2").count() === 1L,
      "zero-pair batch must land only its own labels")
    // cadence compaction folds inc_b* into base/ and preserves the
    // visible labels bit for bit
    Streams.compactClusters(spark, s"$dir/clusters")
    val fs = new org.apache.hadoop.fs.Path(s"$dir/clusters")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val incsLeft = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/clusters"))
      .count(_.getPath.getName.startsWith("inc_b"))
    assert(incsLeft === 0, "compaction must drop the folded deltas")
    assert(clusters() === want + (40L -> 40L),
      "compaction must preserve the visible labels")
    // crash between compaction's move-aside and swap: only .base_old
    // remains — the next read heals forward
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/clusters/base"),
      new org.apache.hadoop.fs.Path(s"$dir/clusters/.base_old")))
    assert(clusters() === want + (40L -> 40L),
      "read must heal a crashed compaction from .base_old")
    // a post-compaction batch lands as a fresh delta over the new base
    Streams.applyNearDupBatch(
      Seq((41L, "another singleton about tungsten codegen stages and " +
        "broadcast thresholds")).toDF("doc_id", "text"),
      "clus_ndx", "doc_id", "text", threshold = 0.8, maxBandFreq = None,
      acceptedPath = s"$dir/acc", id = 3L,
      clustersPath = Some(s"$dir/clusters"))
    assert(clusters() === want + (40L -> 40L) + (41L -> 41L))
    // the incremental clusters read is a streaming-surface frame — sweep
    // it here (not in PlanAuditSpec's batch roster)
    graft.PlanAudit.assertClean("clusters min-collapse read",
      Streams.loadClusters(spark, s"$dir/clusters"))
    Seq("_shingles", "_buckets", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS clus_ndx$s"))
  }

  test("tokenNearDupSink: micro-batches ingest under the index's STORED " +
      "merges; replay idempotent; cluster fold matches the word-grain " +
      "contract") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tnd_sink").toString
    Seq("_shingles", "_buckets", "_meta", "_merges").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS tok_ndx$s"))
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", "tok_ndx",
      n = 5, numBuckets = 4,
      merges = Some(graft.ops.Bpe.learn(corpus, "text", numMerges = 8)))
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupSink(mem.toDF().toDF("doc_id", "text"),
      "tok_ndx", "doc_id", "text", threshold = 0.8, maxBandFreq = None,
      acceptedPath = s"$dir/acc", checkpoint = s"$dir/ckpt",
      clustersPath = Some(s"$dir/clusters"))
    val b1 = Seq((20L, base + " again"), (21L, fresh))
    val b2 = Seq((30L, fresh + " too"),
      (31L, "entirely unrelated text about catalyst plans and shuffle partitions today"))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def acceptedIds(batch: Int): Set[Long] =
      spark.read.parquet(s"$dir/acc/batch$batch")
        .select("doc_id").as[Long].collect().toSet
    assert(acceptedIds(0) == Set(21L),
      "batch 0: corpus piece-near-dup drops, fresh doc accepted")
    assert(acceptedIds(1) == Set(31L),
      "batch 1: near-dup of batch 0's ACCEPTED doc drops against the " +
        "grown index")
    def clusters(): Map[Long, Long] =
      Streams.loadClusters(spark, s"$dir/clusters")
        .as[(Long, Long)].collect().toMap
    val want = Map(10L -> 10L, 20L -> 10L, 21L -> 21L, 30L -> 21L,
      31L -> 31L)
    assert(clusters() === want)
    // crash-replay of batch 1: identical increment, no index
    // duplication, cluster fold a no-op
    spark.catalog.refreshTable("tok_ndx_shingles")
    val shinglesBefore = spark.table("tok_ndx_shingles").count()
    Streams.applyNearDupBatch(b2.toDF("doc_id", "text"), "tok_ndx",
      "doc_id", "text", threshold = 0.8, maxBandFreq = None,
      acceptedPath = s"$dir/acc", id = 1L,
      clustersPath = Some(s"$dir/clusters"))
    assert(acceptedIds(1) == Set(31L))
    assert(spark.table("tok_ndx_shingles").count() == shinglesBefore,
      "replayed batch must not duplicate index rows")
    assert(clusters() === want, "replayed batch must not change clusters")
    Seq("_shingles", "_buckets", "_meta", "_merges").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS tok_ndx$s"))
  }
}

class Scd2SinkSpec extends SparkSpec {

  test("scd2Sink maintains a dimension across micro-batches; replay converges") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2_sink").toString
    val dimPath = s"$dir/dim"
    val mem = MemoryStream[(Long, String)]
    val q = Streams.scd2Sink(mem.toDF().toDF("k", "attr"), dimPath,
      Seq("k"), Seq("attr"), s"$dir/ckpt", id => s"2024-01-0${id + 1}")
    try {
      mem.addData((1L, "A"), (2L, "B")) // batch 0: bootstrap
      q.processAllAvailable()
      mem.addData((1L, "A"), (2L, "B2"), (3L, "C")) // batch 1: change + insert
      q.processAllAvailable()
    } finally q.stop()
    def readDim() = spark.read.parquet(dimPath).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("attr"),
        r.getAs[String]("valid_from"), Option(r.getAs[String]("valid_to")))).toSet
    val dim = readDim()
    assert(dim == Set(
      (1L, "A", "2024-01-01", None),
      (2L, "B", "2024-01-01", Some("2024-01-02")),
      (2L, "B2", "2024-01-02", None),
      (3L, "C", "2024-01-02", None)))
    // crash-replay of batch 1 (same data, same date): dimension unchanged
    Streams.applyScd2Batch(Seq((1L, "A"), (2L, "B2"), (3L, "C")).toDF("k", "attr"),
      dimPath, Seq("k"), Seq("attr"), "2024-01-02")
    assert(readDim() == dim, "replaying a micro-batch must be a no-op")
    // crash between the two swap renames: the dimension survives only at
    // the hidden `_scd2_old` path — the next apply must restore it, not
    // bootstrap from the batch and destroy the history.
    val fs = new org.apache.hadoop.fs.Path(dimPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dimPath),
      new org.apache.hadoop.fs.Path(s"$dir/.dim_scd2_old")))
    Streams.applyScd2Batch(Seq((1L, "A"), (2L, "B2"), (3L, "C")).toDF("k", "attr"),
      dimPath, Seq("k"), Seq("attr"), "2024-01-02")
    assert(readDim() == dim,
      "apply after a mid-swap crash must recover the moved-aside dimension")
  }
}
