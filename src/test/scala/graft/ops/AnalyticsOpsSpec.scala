package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Events.attribution]] — multi-touch credit on planted journeys where
  * every model's split is hand-checkable.
  */
class AttributionSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, Long, String)*) =
    rows.toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
      .drop("ts_s")

  test("first/last/linear split 1e6 exactly, remainder on first touch") {
    val df = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:10:00", 1L, "click"),
      (3L, "2024-01-01 10:20:00", 1L, "view"),
      (4L, "2024-01-01 10:30:00", 1L, "purchase"))
    val out = Events.attribution(df, "user_id", "ts", "event_id")
      .collect().map(r => (r.getAs[String]("model"), r.getAs[String]("channel"))
        -> r.getAs[Long]("credit_micro")).toMap
    assert(out(("first_touch", "view")) === 1000000L)
    assert(out(("last_touch", "view")) === 1000000L)
    assert(out.getOrElse(("first_touch", "click"), 0L) === 0L)
    // linear: 3 touches -> 333333 each, +1 remainder on the first (a view)
    assert(out(("linear", "view")) === 333333L * 2 + 1L)
    assert(out(("linear", "click")) === 333333L)
    // conservation per model
    Seq("first_touch", "last_touch", "linear").foreach { m =>
      assert(out.collect { case ((`m`, _), c) => c }.sum === 1000000L)
    }
  }

  test("touch after the conversion or outside the lookback earns nothing") {
    val df = ev(
      (1L, "2024-01-01 06:00:00", 1L, "view"),     // 4h before: outside 2h window
      (2L, "2024-01-01 09:30:00", 1L, "click"),    // in window
      (3L, "2024-01-01 10:00:00", 1L, "purchase"),
      (4L, "2024-01-01 10:30:00", 1L, "view"))     // after: no following conversion
    val out = Events.attribution(df, "user_id", "ts", "event_id")
      .collect()
    assert(out.map(_.getAs[String]("channel")).toSet === Set("click"))
    assert(out.forall(_.getAs[Long]("credit_micro") == 1000000L))
  }

  test("each conversion gets its own touch set (no double credit)") {
    val df = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:05:00", 1L, "purchase"),
      (3L, "2024-01-01 10:10:00", 1L, "click"),
      (4L, "2024-01-01 10:15:00", 1L, "purchase"))
    val out = Events.attribution(df, "user_id", "ts", "event_id")
      .filter(col("model") === "linear").collect()
      .map(r => r.getAs[String]("channel") -> r.getAs[Long]("credit_micro")).toMap
    assert(out("view") === 1000000L)   // only conversion 1
    assert(out("click") === 1000000L)  // only conversion 2
  }

  test("equal-timestamp ties attribute along the (ts, id) total order") {
    val df = ev(
      (2L, "2024-01-01 10:00:00", 1L, "view"),     // id 2, same ts as conversion id 3
      (3L, "2024-01-01 10:00:00", 1L, "purchase"),
      (4L, "2024-01-01 10:00:00", 1L, "click"))    // id 4 > conv id: next conversion only
    val out = Events.attribution(df, "user_id", "ts", "event_id").collect()
    assert(out.map(_.getAs[String]("channel")).toSet === Set("view"))
  }
}

/** [[Events.transitionMatrix]] — next-event pairs and conditional
  * probabilities on a hand-checkable stream.
  */
class TransitionMatrixSpec extends SparkSpec {
  import spark.implicits._

  test("pairs follow the per-user (ts, id) order; probabilities condition on from_type") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:01:00", 1L, "click"),
      (3L, "2024-01-01 10:02:00", 1L, "view"),
      (4L, "2024-01-01 10:03:00", 1L, "click"),
      (5L, "2024-01-01 10:04:00", 1L, "purchase"),
      // user 2's single event has no successor
      (6L, "2024-01-01 10:00:00", 2L, "view"))
      .toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = Events.transitionMatrix(df, "user_id", "ts", "event_id", "event_type")
      .collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"))
        -> (r.getAs[Long]("n"), r.getAs[Long]("p_micro"))).toMap
    assert(out(("view", "click")) === ((2L, 1000000L)))
    assert(out(("click", "view")) === ((1L, 500000L)))
    assert(out(("click", "purchase")) === ((1L, 500000L)))
    assert(!out.contains(("purchase", "view"))) // last event: no successor
    assert(out.size === 3)
  }

  test("equal timestamps order by event id") {
    val df = Seq(
      (2L, "2024-01-01 10:00:00", 1L, "b"),
      (1L, "2024-01-01 10:00:00", 1L, "a"),
      (3L, "2024-01-01 10:00:01", 1L, "c"))
      .toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = Events.transitionMatrix(df, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")))
    assert(out.toSet === Set(("a", "b"), ("b", "c")))
  }
}

/** [[Stats.crossCorrelation]] / [[Stats.keySkewReport]] — series and
  * skew diagnostics on planted data.
  */
class SeriesDiagnosticsSpec extends SparkSpec {
  import spark.implicits._

  test("cross-correlation finds the planted lag") {
    // B is exactly A shifted by 2 days: r at lag 2 must be 1.0
    val aVals = Seq(5.0, 9.0, 2.0, 7.0, 4.0, 8.0, 3.0, 6.0)
    val a = aVals.zipWithIndex.map { case (v, i) =>
      (f"2024-01-${i + 1}%02d", v) }.toDF("day", "v")
    val b = aVals.zipWithIndex.map { case (v, i) =>
      (f"2024-01-${i + 3}%02d", v) }.toDF("day", "v")
    val out = Stats.crossCorrelation(a, b, "day", "v", maxLag = 3)
      .orderBy("lag").collect()
    assert(out(2).getAs[Long]("r_micro") === 1000000L)
    assert(out(2).getAs[Long]("n") === 8L)
    // other lags align fewer, non-identical days: |r| < 1
    assert(math.abs(out(0).getAs[Long]("r_micro")) < 1000000L)
  }

  test("zero-variance lags report null r") {
    val a = Seq(("2024-01-01", 3.0), ("2024-01-02", 3.0)).toDF("day", "v")
    val out = Stats.crossCorrelation(a, a, "day", "v", maxLag = 0).collect()
    assert(out.head.isNullAt(out.head.fieldIndex("r_micro")))
  }

  test("skew report ranks heavy keys and computes the max/mean ratio") {
    val rows = Seq.fill(8)(("hot", 1)) ++ Seq(("a", 1), ("b", 1), ("c", 1), ("d", 1))
    val out = Stats.keySkewReport(rows.toDF("k", "x"), "k", topN = 3)
      .collect()
    assert(out.head.getAs[String]("key") === "hot")
    assert(out.head.getAs[Long]("n") === 8L)
    // 12 rows over 5 groups: mean 2.4, max 8 -> ratio 8/2.4 = 3.333333
    assert(out.head.getAs[Long]("skew_ratio_micro") === 3333333L)
    assert(out.head.getAs[Long]("share_micro") === 666667L)
    assert(out.length === 3)
  }
}

/** [[Events.coVisitation]] — CF neighbor table on planted baskets. */
class CoVisitationSpec extends SparkSpec {
  import spark.implicits._

  test("cosine ranks the tighter co-visit higher; support gate holds") {
    // items 1,2 co-visited by 3 users; 1,3 by 2 of 3+1 visitors; 1,9 once
    val df = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 1L), (3L, 2L),
      (4L, 3L), (4L, 9L), (5L, 9L)).toDF("user_id", "item")
    val out = Events.coVisitation(df, "user_id", "item",
      minPairCount = 2L, k = 5).collect()
    val sim = out.map(r => (r.getAs[Long]("item"), r.getAs[Long]("neighbor"))
      -> r.getAs[Long]("sim_micro")).toMap
    // c_12 = 3, c_1 = 3, c_2 = 3 -> cos 1.0
    assert(sim((1L, 2L)) === 1000000L)
    assert(sim((2L, 1L)) === 1000000L)
    // c_13 = 2, c_1 = 3, c_3 = 3 -> 2/3
    assert(sim((1L, 3L)) === 666667L)
    // (3, 9) co-visited once: below minPairCount
    assert(!sim.contains((3L, 9L)))
    // symmetric table: every (a, b) has its (b, a)
    assert(sim.keySet.map(_.swap) === sim.keySet)
  }

  test("the per-user cap keeps the lowest item ids deterministically") {
    val df = (1L to 10L).map(i => (1L, i)).toDF("user_id", "item")
    val out = Events.coVisitation(df, "user_id", "item",
      minPairCount = 1L, k = 20, maxItemsPerUser = 3)
    val items = out.select("item").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(items === Set(1L, 2L, 3L))
  }
}

/** [[Events.cohortValue]] / [[Events.rfm]] — LTV curves and RFM cuts on
  * planted fixtures.
  */
class CohortValueRfmSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, Long, Double)*) =
    rows.toDF("event_id", "ts_s", "user_id", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))

  test("cohort value accumulates per offset; per-user curve divides by cohort size") {
    val df = ev(
      (1L, "2024-01-01 10:00:00", 1L, 10.0),
      (2L, "2024-01-01 11:00:00", 2L, 20.0),   // same cohort, 2 users
      (3L, "2024-01-03 10:00:00", 1L, 6.0))    // offset 2
    val out = Events.cohortValue(df, "user_id", "ts", "value")
      .orderBy("offset_days").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Double]("value_sum") === 30.0)
    assert(out(0).getAs[Long]("n_users") === 2L)
    assert(out(0).getAs[Long]("cum_value_per_user_micro") === 15000000L)
    assert(out(1).getAs[Double]("cum_value_sum") === 36.0)
    assert(out(1).getAs[Long]("cum_value_per_user_micro") === 18000000L)
  }

  test("rfm scores: recent/frequent/high-value users score 5s, ties go low") {
    // five users with strictly increasing activity on every axis
    val rows = (1L to 5L).flatMap { u =>
      (1L to u).map(i => (u * 100 + i, f"2024-01-${20 + u.toInt}%02d 10:00:00",
        u, u * 10.0))
    }
    val out = Events.rfm(ev(rows: _*), "user_id", "ts", "value",
        asOf = "2024-01-31 00:00:00")
      .orderBy("user_id").collect()
    // user 5: most recent (smallest recency), most events, highest value
    val u5 = out.last
    assert(u5.getAs[String]("segment") === "555")
    val u1 = out.head
    assert(u1.getAs[Int]("r_score") === 1)
    assert(u1.getAs[Int]("f_score") === 1)
    assert(u1.getAs[Int]("m_score") === 1)
    // Jan 31 00:00 minus Jan (20+u) 10:00 = (10-u) days 14h -> whole days
    assert(out.map(_.getAs[Long]("recency_days")).toSeq ===
      Seq(9L, 8L, 7L, 6L, 5L))
  }

  test("rfm analyzes over a raw TIMESTAMP_NTZ ts (no Tables.load)") {
    // unix_micros rejects TIMESTAMP_NTZ — the recency expr must CAST
    // first, like every other Events unix_micros site (commit 592a630's
    // invariant; this op was the one site missed)
    val df = ev((1L, "2024-01-01 10:00:00", 1L, 10.0))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val out = Events.rfm(df, "user_id", "ts", "value",
        asOf = "2024-01-31 00:00:00").collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("recency_days") === 29L)
  }
}

/** [[Events.funnelLatency]] / [[Events.topPaths]] — latency chain and
  * path mining on planted journeys.
  */
class FunnelLatencySpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, Long, String)*) =
    rows.toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))

  test("latency runs from the FIRST step-1 event to the ordered completion") {
    val df = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:01:00", 1L, "click"),      // +60s
      (3L, "2024-01-01 10:03:00", 1L, "purchase"),   // +180s
      // user 2: purchase before click — never completes step 3
      (4L, "2024-01-01 09:00:00", 2L, "view"),
      (5L, "2024-01-01 09:00:30", 2L, "purchase"),
      (6L, "2024-01-01 09:02:00", 2L, "click"))      // +120s
    val out = Events.funnelLatency(df, "user_id", "ts", "event_id",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy("step_idx").collect()
    assert(out.length === 2)
    val click = out(0)
    assert(click.getAs[Long]("n_users") === 2L)
    assert(click.getAs[Double]("mean_s") === 90.0)   // (60 + 120) / 2
    assert(click.getAs[Double]("p50_s") === 90.0)    // interpolated midpoint
    val purchase = out(1)
    assert(purchase.getAs[Long]("n_users") === 1L)
    assert(purchase.getAs[Double]("p50_s") === 180.0)
  }

  test("topPaths renders ordered in-session sequences and breaks gaps") {
    val df = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:01:00", 1L, "click"),
      // > 30 min gap: new session
      (3L, "2024-01-01 11:00:00", 1L, "view"),
      (4L, "2024-01-01 11:01:00", 1L, "click"),
      (5L, "2024-01-01 09:00:00", 2L, "view"))
    val out = Events.topPaths(df, "user_id", "ts", "event_id", "event_type",
        gapSeconds = 1800L, k = 10)
      .collect().map(r => r.getAs[String]("path") -> r.getAs[Long]("n")).toMap
    assert(out === Map("view>click" -> 2L, "view" -> 1L))
  }
}

/** [[Stats.equiDepthBins]] / [[Stats.correlationMatrix]] — binning and
  * exact correlation on hand-computable fixtures.
  */
class StatsAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("psi: identical snapshots score ~0; a shifted one concentrates " +
      "mass in the tail buckets") {
    val ref = (1 to 1000).map(_.toDouble).toDF("v")
    val same = Stats.psi(ref, ref, "v", bins = 4).orderBy("bucket").collect()
    assert(same.map(_.getAs[Long]("psi_micro")).sum === 0L)
    assert(same.map(_.getAs[Long]("n_ref")).sum === 1000L)
    // shift everything up by 10x bucket width: all current mass lands in
    // the top bucket, three buckets empty out -> large finite PSI
    val cur = (1 to 1000).map(i => i.toDouble + 2500).toDF("v")
    val drift = Stats.psi(ref, cur, "v", bins = 4).orderBy("bucket").collect()
    assert(drift.map(_.getAs[Long]("n_cur")).toSeq === Seq(0L, 0L, 0L, 1000L))
    val total = drift.map(_.getAs[Long]("psi_micro")).sum
    assert(total > 250000L, s"planted hard drift scored only $total micro")
    // empty buckets contribute a finite floored term, never an overflow
    assert(drift.forall(r => math.abs(r.getAs[Long]("psi_micro")) < 100000000L))
  }

  test("psi reads each corpus subtree once — the returned plan holds " +
      "ZERO file scans (the q186 duplicated-totals-lineage regression guard)") {
    // the r9 crossJoin(tot) formulation re-evaluated grid's whole
    // subtree: 11 parquet scans for a logically 2-scan query and a
    // measured q186 regression. The exact path now runs exactly two
    // bounded corpus jobs at build time (fused reference profile +
    // current bucket counts) and returns a LOCAL grid — the returned
    // plan must not touch the corpus at all.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flat(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: kids.flatMap(flat)
    }
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ref = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_extendedprice").as("v"))
    val cur = li.filter(col("l_orderkey") % 2 === 1)
      .select((col("l_extendedprice") * 1.08).as("v"))
    val out = Stats.psi(ref, cur, "v", bins = 10)
    out.collect()
    val scans = flat(out.queryExecution.executedPlan)
      .count { case _: FileSourceScanExec => true; case _ => false }
    assert(scans == 0, s"psi plan re-reads the corpus: $scans file scans")
    // the per-group variant carries the same single-lineage discipline
    val outG = Stats.psiByGroup(
      li.filter(col("l_orderkey") % 2 === 0)
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v")),
      li.filter(col("l_orderkey") % 2 === 1)
        .select(col("l_returnflag").as("g"), (col("l_extendedprice") * 1.08).as("v")),
      "g", "v", bins = 4)
    outG.collect()
    val scansG = flat(outG.queryExecution.executedPlan)
      .count { case _: FileSourceScanExec => true; case _ => false }
    // 4, not 3: the groups × bins grid explodes over the per-group
    // edges aggregate, whose exchange is runtime-reused in only two of
    // its three uses (broadcast vs shuffle variants) — inherent to the
    // per-group-edges design, NOT the totals duplication (which would
    // read 6+)
    assert(scansG <= 4, s"psiByGroup plan re-reads the corpus: $scansG scans")
  }

  test("psiByGroup localizes drift to the drifting slice") {
    val ref = (1 to 1000).flatMap(i =>
      Seq(("steady", i.toDouble), ("drifty", i.toDouble))).toDF("g", "v")
    // drifty's values shift up 50% of the range; steady is identical
    val cur = (1 to 1000).flatMap(i =>
      Seq(("steady", i.toDouble), ("drifty", i.toDouble + 500))).toDF("g", "v")
    val out = Stats.psiByGroup(ref, cur, "g", "v", bins = 4)
      .groupBy("group").agg(sum("psi_micro").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("steady") === 0L)
    assert(out("drifty") > 250000L, s"planted slice drift scored ${out}")
    // a group absent from the reference has no baseline: absent from output
    val cur2 = cur.unionByName(Seq(("brand_new", 1.0)).toDF("g", "v"))
    val groups = Stats.psiByGroup(ref, cur2, "g", "v", bins = 4)
      .select("group").distinct().collect().map(_.getString(0)).toSet
    assert(groups === Set("steady", "drifty"))
  }

  test("psi/psiCategorical: an empty side yields an EMPTY result, never " +
      "NaN-derived garbage micro-units") {
    val ref = (1 to 100).map(_.toDouble).toDF("v")
    val empty = ref.filter(lit(false))
    assert(Stats.psi(ref, empty, "v", bins = 4).isEmpty)
    assert(Stats.psi(empty, ref, "v", bins = 4).isEmpty)
    assert(Stats.psi(empty, empty, "v", bins = 4).isEmpty)
    val refC = Seq("a", "b").toDF("c")
    val emptyC = refC.filter(lit(false))
    assert(Stats.psiCategorical(refC, emptyC, "c").isEmpty)
    assert(Stats.psiCategorical(emptyC, refC, "c").isEmpty)
    // an all-null value column is the same breakage: no bucketable mass
    val allNull = Seq[java.lang.Double](null, null).toDF("v")
    assert(Stats.psi(ref, allNull, "v", bins = 4).isEmpty)
  }

  test("psiFromReference == full psi recompute; partials merge order-free; " +
      "empty current yields empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft_psiref").toString
    val ref = (1 to 1000).map(_.toDouble).toDF("v")
    val cur = (1 to 900).map(i => i.toDouble + 250).toDF("v")
    Stats.writePsiReference(ref, "v", dir, bins = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket").collect().map(_.toSeq).toSeq
    val full = rows(Stats.psi(ref, cur, "v", bins = 5))
    assert(rows(Stats.psiFromReference(spark, dir, cur, "v")) === full)
    // the current side split into three feeds, merged in any order
    val feeds = Seq(
      cur.filter(col("v") <= 400), cur.filter(col("v") > 800),
      cur.filter(col("v") > 400 && col("v") <= 800))
      .map(f => Stats.psiCurrentPartial(f, "v", Stats.loadPsiEdges(spark, dir)))
    assert(rows(Stats.psiFromPartials(spark, dir,
      feeds.reduce(_.unionByName(_)))) === full)
    assert(rows(Stats.psiFromPartials(spark, dir,
      feeds.reverse.reduce(_.unionByName(_)))) === full)
    // empty current: the zero-total guard, same as psi
    assert(Stats.psiFromReference(spark, dir,
      cur.filter(lit(false)), "v").isEmpty)
  }

  test("ksByGroup: each slice equals the scalar ksStatistic on that " +
      "slice; one-sided and empty groups are absent") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(i =>
      ("steady", rnd.nextDouble() * 100)) ++
      (1 to 400).map(i => ("drifty", rnd.nextDouble() * 100))
    val ref = (rows :+ (("ref_only", 1.0))).toDF("g", "v")
    val cur = (rows.map { case (g, v) =>
      (g, if (g == "drifty") v + 25 else v) } :+ (("cur_only", 1.0)))
      .toDF("g", "v")
    val out = Stats.ksByGroup(ref, cur, "g", "v", buckets = 8)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    // one-sided groups are absent (per-slice zero-total guard)
    assert(out.keySet === Set("steady", "drifty"))
    for (g <- Seq("steady", "drifty")) {
      val scalar = Stats.ksStatistic(ref.filter(col("g") === g),
        cur.filter(col("g") === g), "v", buckets = 8).head().toSeq
      assert(out(g) === scalar, s"slice $g drifted from the scalar op")
    }
    assert(out("steady")(2).asInstanceOf[Long] === 0L)
    assert(out("drifty")(2).asInstanceOf[Long] > 100000L)
    // bucket-count invariance (bucketing only balances partitions)
    val b1 = Stats.ksByGroup(ref, cur, "g", "v", buckets = 1)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(b1 === out)
  }

  test("psiByGroupFromReference / ksByGroupFromReference == full " +
      "per-group recomputes; partials merge order-free; a POISONED " +
      "source cannot change a tick (the stored profile wins); empty " +
      "current yields empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gref").toString
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map(i => ("a", rnd.nextDouble() * 100)) ++
      (1 to 300).map(i => ("b", rnd.nextDouble() * 100))
    rows.toDF("g", "v").write.parquet(s"$dir/src")
    val ref = spark.read.parquet(s"$dir/src")
    val cur = rows.map { case (g, v) =>
      (g, if (g == "b") v + 20 else v) }.toDF("g", "v")
    val psiFull = Stats.psiByGroup(ref, cur, "g", "v", bins = 5)
      .orderBy("group", "bucket").collect().map(_.toSeq).toSeq
    val ksFull = Stats.ksByGroup(ref, cur, "g", "v", buckets = 8)
      .orderBy("group").collect().map(_.toSeq).toSeq
    Stats.writePsiReference(ref, "v", s"$dir/psiref", bins = 5,
      groupCol = Some("g"))
    Stats.writeKsReference(ref, "v", s"$dir/ksref", Some("g"))
    def psiTick(c: org.apache.spark.sql.DataFrame) =
      Stats.psiFromReference(spark, s"$dir/psiref", c, "v", Some("g"))
        .orderBy("group", "bucket").collect().map(_.toSeq).toSeq
    def ksTick(c: org.apache.spark.sql.DataFrame) =
      Stats.ksFromReference(spark, s"$dir/ksref", c, "v",
        buckets = 8, groupCol = Some("g")).orderBy("group").collect().map(_.toSeq).toSeq
    assert(psiTick(cur) === psiFull)
    assert(ksTick(cur) === ksFull)
    // POISON the source the reference was profiled from: if any tick
    // path still read the corpus, the scores would shift
    spark.read.parquet(s"$dir/src") // drop any cached listing
    rows.map { case (g, _) => (g, 1e9) }.toDF("g", "v")
      .write.mode("overwrite").parquet(s"$dir/src")
    assert(psiTick(cur) === psiFull, "psi tick read the poisoned corpus")
    assert(ksTick(cur) === ksFull, "ks tick read the poisoned corpus")
    // split feeds merge order-free
    val feeds = Seq(cur.filter(col("v") <= 50), cur.filter(col("v") > 50))
    val psiParts = feeds.map(f => Stats.psiCurrentPartial(f, "v",
      Stats.loadPsiEdges(spark, s"$dir/psiref"), Some("g")))
    assert(Stats.psiFromPartials(spark, s"$dir/psiref",
        psiParts.reverse.reduce(_.unionByName(_)))
      .orderBy("group", "bucket").collect().map(_.toSeq).toSeq === psiFull)
    val ksParts = feeds.map(f => Stats.ksCurrentPartial(f, "v", Some("g")))
    assert(Stats.ksFromPartials(spark, s"$dir/ksref",
        ksParts.reverse.reduce(_.unionByName(_)), buckets = 8)
      .orderBy("group").collect().map(_.toSeq).toSeq === ksFull)
    // empty current: the per-slice zero-total guard
    assert(Stats.psiFromReference(spark, s"$dir/psiref",
      cur.filter(lit(false)), "v", Some("g")).isEmpty)
    assert(Stats.ksFromReference(spark, s"$dir/ksref",
      cur.filter(lit(false)), "v", groupCol = Some("g")).isEmpty)
    // a group with no stored baseline is absent from the tick
    val withNew = cur.unionByName(Seq(("brand_new", 1.0)).toDF("g", "v"))
    assert(Stats.psiFromReference(spark, s"$dir/psiref",
        withNew, "v", Some("g"))
      .select("group").distinct().collect().map(_.getString(0)).toSet
      === Set("a", "b"))
  }

  test("ksFromReference == full ksStatistic; partials merge order-free; " +
      "empty current yields empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ksref").toString
    val ref = (1 to 1000).map(_.toDouble).toDF("v")
    val cur = (1 to 900).map(i => i.toDouble * 1.1 + 3).toDF("v")
    Stats.writeKsReference(ref, "v", dir)
    val full = Stats.ksStatistic(ref, cur, "v", buckets = 16)
      .collect().map(_.toSeq).toSeq
    assert(Stats.ksFromReference(spark, dir, cur, "v", buckets = 16)
      .collect().map(_.toSeq).toSeq === full)
    val feeds = Seq(cur.filter(col("v") <= 500), cur.filter(col("v") > 500))
      .map(Stats.ksCurrentPartial(_, "v"))
    assert(Stats.ksFromPartials(spark, dir,
      feeds.reduce(_.unionByName(_)), buckets = 16)
      .collect().map(_.toSeq).toSeq === full)
    assert(Stats.ksFromPartials(spark, dir,
      feeds.reverse.reduce(_.unionByName(_)), buckets = 16)
      .collect().map(_.toSeq).toSeq === full)
    assert(Stats.ksFromReference(spark, dir,
      cur.filter(lit(false)), "v").isEmpty)
    assert(Stats.ksStatistic(ref.filter(lit(false)), cur, "v").isEmpty)
  }

  test("psiCategorical: vanished and new categories both score, nulls " +
      "bucket as (null)") {
    val ref = (Seq.fill(50)("a") ++ Seq.fill(50)("b")).toDF("c")
    val cur = (Seq.fill(50)("a") ++ Seq.fill(50)("z")).toDF("c")
    val out = Stats.psiCategorical(ref, cur, "c").orderBy("category")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
          r.getAs[Long]("psi_micro")))).toMap
    assert(out.keySet === Set("a", "b", "z"))
    assert(out("a")._3 === 0L)
    // b vanished, z appeared: symmetric large positive terms
    assert(out("b")._3 > 1000000L && out("z")._3 > 1000000L)
    val withNull = Seq[(java.lang.Long, String)]((1L, "a"), (2L, null))
      .toDF("id", "c").select(col("c"))
    val n = Stats.psiCategorical(withNull, withNull, "c")
      .filter(col("category") === "(null)").collect()
    assert(n.length === 1 && n.head.getAs[Long]("psi_micro") === 0L)
  }

  test("ksStatistic: hand-checkable supremum, zero on identical samples, " +
      "bucket-count invariant") {
    val ref = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val cur = Seq(3.0, 4.0, 5.0, 6.0).toDF("v")
    val r = Stats.ksStatistic(ref, cur, "v", buckets = 1).head()
    // F_ref(2)=0.5, F_cur(2)=0 -> D=0.5 at v=2 (first supremum location)
    assert(r.getAs[Long]("d_micro") === 500000L)
    assert(r.getAs[Double]("at_value") === 2.0)
    assert(r.getAs[Long]("n_ref") === 4L && r.getAs[Long]("n_cur") === 4L)
    val same = Stats.ksStatistic(ref, ref, "v").head()
    assert(same.getAs[Long]("d_micro") === 0L)
    // the split prefix-sum must be invariant to how values bucket
    val big1 = (1 to 500).map(i => (i * 7 % 101).toDouble).toDF("v")
    val big2 = (1 to 400).map(i => (i * 13 % 97 + 2).toDouble).toDF("v")
    val d1 = Stats.ksStatistic(big1, big2, "v", buckets = 1).head()
    val d16 = Stats.ksStatistic(big1, big2, "v", buckets = 16).head()
    assert(d1.getAs[Long]("d_micro") === d16.getAs[Long]("d_micro"))
    assert(d1.getAs[Double]("at_value") === d16.getAs[Double]("at_value"))
  }

  test("coocPmi window 1 equals the adjacent-bigram counts, window 3 " +
      "finds skip pairs") {
    val docs = Seq.fill(6)("alpha beta gamma").toDF("text")
    val w1 = TextAnalysis.coocPmi(docs, "text", window = 1, minCount = 2L,
        k = 10).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("c_ab")).toMap
    // adjacent, alphabetically oriented
    assert(w1 === Map(("alpha", "beta") -> 6L, ("beta", "gamma") -> 6L))
    val w3 = TextAnalysis.coocPmi(docs, "text", window = 3, minCount = 2L,
        k = 10).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("c_ab")).toMap
    assert(w3(("alpha", "gamma")) === 6L, "skip pair missing at window 3")
    assert(w3.size === 3)
  }

  test("equi-depth buckets hold equal counts on a uniform column") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val out = Stats.equiDepthBins(df, "v", bins = 4)
      .orderBy("bucket").collect()
    assert(out.map(_.getAs[Long]("bucket")).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(out.map(_.getAs[Long]("n")).toSeq === Seq(25L, 25L, 25L, 25L))
    // a value ON an edge belongs to the lower bucket
    assert(out(0).getAs[Double]("hi_v") === 25.75 || out(0).getAs[Long]("n") === 25L)
  }

  test("correlation is exactly +1/-1 on linear data and ~0 when independent") {
    val df = (1 to 50).map(i => (i.toDouble, 2.0 * i + 3, -1.0 * i, (i % 2).toDouble))
      .toDF("x", "y", "z", "par")
    val out = Stats.correlationMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getAs[String]("col_a"), r.getAs[String]("col_b"))
        -> r.getAs[Long]("r_micro")).toMap
    assert(out(("x", "y")) === 1000000L)
    assert(out(("x", "z")) === -1000000L)
    assert(out(("y", "z")) === -1000000L)
  }

  test("zero variance gives a null r, not a crash or a fake value") {
    val df = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("x", "c")
    val out = Stats.correlationMatrix(df, Seq("x", "c")).collect().head
    assert(out.isNullAt(out.fieldIndex("r_micro")))
    assert(out.getAs[Long]("n") === 3L)
  }

  test("pairwise n counts only rows where both sides are present") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 2.0), (2.0, null), (null, 3.0), (4.0, 8.0))
      .toDF("a", "b")
    val out = Stats.correlationMatrix(df, Seq("a", "b")).collect().head
    assert(out.getAs[Long]("n") === 2L)
  }
}

/** [[Events.rollingRetention]] / [[Events.activityHistogram]] — growth
  * metrics on planted day grids.
  */
class RetentionSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String)*) =
    rows.zipWithIndex.map { case ((u, d), i) => (i.toLong, u, d) }
      .toDF("event_id", "user_id", "d")
      .withColumn("ts", to_timestamp(concat(col("d"), lit(" 10:00:00"))))

  test("retained = lagged actives who returned; base is the lagged count") {
    val df = ev(
      (1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-01-01"),
      (1L, "2024-01-08"), (2L, "2024-01-08"), (9L, "2024-01-08"),
      (1L, "2024-01-08")) // duplicate event same day: distinct-pair collapse
    val out = Events.rollingRetention(df, "user_id", "ts", lagDays = 7)
      .orderBy("day").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("n_base"))) // no day -7
    assert(out(0).getAs[Long]("n_retained") === 0L)
    val d8 = out(1)
    assert(d8.getAs[Long]("n_active") === 3L)
    assert(d8.getAs[Long]("n_base") === 3L)
    assert(d8.getAs[Long]("n_retained") === 2L)   // users 1, 2 returned
    assert(d8.getAs[Long]("rate_micro") === 666667L)
  }

  test("activity histogram counts users by distinct active days") {
    val df = ev(
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-03"),
      (2L, "2024-01-01"), (2L, "2024-01-01"),   // same day twice: 1 day
      (3L, "2024-01-05"))
    val out = Events.activityHistogram(df, "user_id", "ts")
      .orderBy("n_days").collect()
      .map(r => r.getAs[Long]("n_days") -> r.getAs[Long]("n_users")).toMap
    assert(out === Map(1L -> 2L, 3L -> 1L))
  }
}

/** [[TextAnalysis.langConfusion]] — prediction grid vs declared labels. */
class LangConfusionSpec extends SparkSpec {
  import spark.implicits._

  test("diagonal, off-diagonal, and no-list languages all land correctly") {
    val df = Seq(
      (1L, "the cat and the dog is in", "en"),     // en -> en
      (2L, "der hund ist nicht ein", "de"),        // de -> de
      (3L, "the the the", "de"),                   // de mislabeled as en text
      (4L, "xyzzy plugh", "zh"))                   // no zh list -> und
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langConfusion(df, "doc_id", "text", "lang")
      .collect()
      .map(r => (r.getAs[String]("declared"), r.getAs[String]("pred_lang"))
        -> (r.getAs[Long]("n"), r.getAs[Long]("frac_micro"))).toMap
    assert(out(("en", "en")) === ((1L, 1000000L)))
    assert(out(("de", "de")) === ((1L, 500000L)))
    assert(out(("de", "en")) === ((1L, 500000L)))
    assert(out(("zh", "und")) === ((1L, 1000000L)))
  }
}

/** [[Events.peakConcurrency]] — split-prefix sweep line vs hand-counted
  * overlaps, including cross-midnight carry.
  */
class PeakConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def iv(rows: (String, String)*) =
    rows.toDF("s", "e")
      .withColumn("start", to_timestamp(col("s")))
      .withColumn("end", to_timestamp(col("e")))

  test("overlap counting is closed-interval and tie-safe") {
    val df = iv(
      ("2024-01-01 10:00:00", "2024-01-01 11:00:00"),
      ("2024-01-01 10:30:00", "2024-01-01 12:00:00"),
      ("2024-01-01 11:00:00", "2024-01-01 13:00:00"), // starts AT an end: overlaps (closed)
      ("2024-01-01 20:00:00", "2024-01-01 21:00:00"))
    val out = Events.peakConcurrency(df, "start", "end").collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("peak_concurrent") === 3L)
    assert(out.head.getAs[Long]("carry_in") === 0L)
  }

  test("concurrency carries across midnight") {
    val df = iv(
      ("2024-01-01 23:00:00", "2024-01-02 02:00:00"),
      ("2024-01-01 23:30:00", "2024-01-02 01:00:00"),
      ("2024-01-02 00:30:00", "2024-01-02 00:45:00"))
    val out = Events.peakConcurrency(df, "start", "end")
      .orderBy("day").collect()
    assert(out.map(_.getAs[String]("day")).toSeq ===
      Seq("2024-01-01", "2024-01-02"))
    assert(out(0).getAs[Long]("peak_concurrent") === 2L)
    assert(out(1).getAs[Long]("carry_in") === 2L)
    assert(out(1).getAs[Long]("peak_concurrent") === 3L)
  }

  test("a day that only ends sessions peaks at its carry-in") {
    val df = iv(
      ("2024-01-01 10:00:00", "2024-01-02 10:00:00"),
      ("2024-01-01 11:00:00", "2024-01-02 09:00:00"))
    val out = Events.peakConcurrency(df, "start", "end")
      .orderBy("day").collect()
    assert(out(1).getAs[Long]("carry_in") === 2L)
    assert(out(1).getAs[Long]("peak_concurrent") === 2L)
  }
}

/** [[Stats.ewmaAnomaly]] — dyadic-exact weighted average and integer flag. */
class EwmaAnomalySpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (String, String)*) =
    rows.zipWithIndex.map { case ((d, t), i) => (i.toLong, d, t) }
      .toDF("event_id", "day_s", "event_type")
      .withColumn("ts", to_timestamp(concat(col("day_s"), lit(" 12:00:00"))))

  test("prediction is the 2^-k weighted average of prior observed days") {
    // key a: 4/day on Jan 1, 8/day on Jan 2 -> pred for Jan 3:
    // (8*2^19 + 4*2^18) / (2^19 + 2^18) = (16+4)/3 ... = 20/3? No:
    // weights k=1 -> 2^19, k=2 -> 2^18; (8*2 + 4*1)/3 = 20/3 = 6.666667
    val rows = Seq.fill(4)(("2024-01-01", "a")) ++
      Seq.fill(8)(("2024-01-02", "a")) ++
      Seq.fill(5)(("2024-01-03", "a"))
    val out = Stats.ewmaAnomaly(ev(rows: _*), "event_type", "ts")
      .orderBy("day").collect()
    assert(out.length === 3)
    assert(out(0).isNullAt(out(0).fieldIndex("pred_micro")))
    assert(!out(0).getAs[Boolean]("is_anomaly"))
    assert(out(1).getAs[Long]("pred_micro") === 4000000L)
    assert(!out(1).getAs[Boolean]("is_anomaly"))  // 8e6 > 2*4e6 is strict: false
    assert(out(2).getAs[Long]("pred_micro") === 6666667L)
  }

  test("flag is strict: exactly 2x the prediction is not an anomaly") {
    val rows = Seq.fill(4)(("2024-01-01", "b")) ++ Seq.fill(8)(("2024-01-02", "b"))
    val out = Stats.ewmaAnomaly(ev(rows: _*), "event_type", "ts")
      .orderBy("day").collect()
    // day 2: n=8, pred=4 -> 8e6 > 8e6 is false
    assert(!out(1).getAs[Boolean]("is_anomaly"))
  }

  test("a true spike flags, and gaps skip absent days (observed-day weights)") {
    val rows = Seq.fill(2)(("2024-01-01", "c")) ++
      Seq.fill(2)(("2024-01-05", "c")) ++   // 4-day gap: weights renormalize
      Seq.fill(9)(("2024-01-06", "c"))
    val out = Stats.ewmaAnomaly(ev(rows: _*), "event_type", "ts")
      .orderBy("day").collect()
    // Jan 5 pred: only Jan 1 observed (k=4): pred = 2
    assert(out(1).getAs[Long]("pred_micro") === 2000000L)
    // Jan 6 pred: (2*2^19 [k=1, Jan 5] + 2*2^15 [k=5, Jan 1]) / (2^19+2^15) = 2
    assert(out(2).getAs[Long]("pred_micro") === 2000000L)
    assert(out(2).getAs[Boolean]("is_anomaly")) // 9 > 4
  }

  test("stride 7 judges a weekday only against prior same-weekdays") {
    // Mondays at 4; a Wednesday burst of 40 must not pollute Monday's
    // baseline; next Monday at 9 flags vs pred 4
    val rows = Seq.fill(4)(("2024-01-01", "w")) ++      // Mon
      Seq.fill(40)(("2024-01-03", "w")) ++              // Wed burst
      Seq.fill(9)(("2024-01-08", "w"))                  // next Mon
    val out = Stats.ewmaAnomalyDaily(
      ev(rows: _*).groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n")),
      "event_type", "day", "n", horizonDays = 21, ratio = 2L,
      strideDays = 7).orderBy("day").collect()
    val mon2 = out.find(_.getAs[String]("day") == "2024-01-08").get
    assert(mon2.getAs[Long]("pred_micro") === 4000000L) // Wed burst excluded
    assert(mon2.getAs[Boolean]("is_anomaly"))           // 9 > 8
    val wed = out.find(_.getAs[String]("day") == "2024-01-03").get
    assert(wed.isNullAt(wed.fieldIndex("pred_micro")))  // no prior Wednesday
  }

  test("referentialIntegrity counts planted orphans exactly") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(1L, 1L, 2L, 99L, 99L, 98L).toDF("fk")
    val r = Checks.referentialIntegrity(child, parent, "fk", "pk").head()
    assert(r.getAs[Long]("n_child") === 6L)
    assert(r.getAs[Long]("n_orphans") === 3L)
    assert(r.getAs[Long]("n_orphan_keys") === 2L)
    assert(r.getAs[Long]("orphan_rate_micro") === 500000L)
    assert(!r.getAs[Boolean]("ok"))
  }

  test("beyond-horizon history is ignored") {
    val rows = Seq.fill(100)(("2024-01-01", "d")) ++  // 25 days before: out of horizon
      Seq.fill(3)(("2024-01-26", "d")) ++
      Seq.fill(3)(("2024-01-27", "d"))
    val out = Stats.ewmaAnomaly(ev(rows: _*), "event_type", "ts")
      .orderBy("day").collect()
    assert(out(1).isNullAt(out(1).fieldIndex("pred_micro")))
    assert(out(2).getAs[Long]("pred_micro") === 3000000L)
  }
}
