package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Seeded randomized cross-checks: each operator is held to a brute-force
  * reference on generated data (fixed seeds — failures reproduce). These
  * catch the boundary interactions hand-picked fixtures miss: duplicate
  * timestamps, empty groups, keys missing from one side, delete sets
  * spanning every file.
  */
class RandomizedInvariantsSpec extends SparkSpec {
  import spark.implicits._

  test("asofJoin equals the brute-force latest-at-or-before reference") {
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 3) {
      val left = (1 to 120).map(i =>
        (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(50).toLong))
      val right = (1 to 60).map(_ =>
        (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong, rnd.nextInt(1000)))
      val l = left.toDF("lid", "k", "ts")
      val r = right.toDF("k", "ts", "v")
      val got = TemporalJoins.asofJoin(l, r, "k", "ts", "ts", Seq("v"))
        .select("lid", "asof_v").collect()
        .map(x => x.getLong(0) -> Option(x.get(1)).map(_.asInstanceOf[Int]))
        .toMap
      // brute force: per right key, max-ts row at-or-before; ties on ts
      // resolve like the operator's window (last write in sort order) —
      // make ties impossible instead: keep one right row per (k, ts)
      val rDedup = right.groupBy(x => (x._1, x._2)).map(_._2.last).toSeq
      val gotD = TemporalJoins.asofJoin(l, rDedup.toDF("k", "ts", "v"),
          "k", "ts", "ts", Seq("v"))
        .select("lid", "asof_v").collect()
        .map(x => x.getLong(0) -> Option(x.get(1)).map(_.asInstanceOf[Int]))
        .toMap
      val expect = left.map { case (lid, k, ts) =>
        lid -> rDedup.filter(x => x._1 == k && x._2 <= ts)
          .sortBy(_._2).lastOption.map(_._3)
      }.toMap
      assert(gotD == expect, s"asof mismatch in round $round")
      assert(got.keySet == expect.keySet) // row preservation either way
    }
  }

  test("pointInTimeJoin equals a brute-force interval scan after a " +
      "random snapshot fold") {
    val rnd = new scala.util.Random(7)
    val keys = (1 to 8).map(_.toString)
    val dates = Seq("2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01")
    // random snapshots: each date, each key present with p=.8, random tier
    val snaps = dates.map(d => d -> keys.flatMap(k =>
      if (rnd.nextDouble() < 0.8) Some((k, s"t${rnd.nextInt(3)}")) else None)
      .toDF("k", "tier"))
    val dim0 = snaps.head._2
      .select(col("k"), col("tier"), lit(dates.head).as("valid_from"),
        lit(null).cast("string").as("valid_to"))
    val dim = Scd.scd2FoldSnapshots(dim0, snaps.tail, Seq("k"), Seq("tier"),
      closeMissing = true)
    val hist = dim.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), Option(r.getString(3)))).toSeq
    val facts = (1 to 150).map(i => (i.toLong,
      (rnd.nextInt(10) + 1).toString,
      f"2024-0${rnd.nextInt(6) + 1}%s-${rnd.nextInt(28) + 1}%02d"))
    val got = TemporalJoins.pointInTimeJoin(
        facts.toDF("f", "k", "day"), dim, "k", "day", Seq("tier"))
      .select("f", "pit_tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val expect = facts.map { case (f, k, day) =>
      f -> hist.find(h => h._1 == k && h._3 <= day &&
        h._4.forall(day < _)).map(_._2)
    }.toMap
    assert(got == expect)
  }

  test("scd2 fold: per-key intervals partition the timeline, and the " +
      "point-in-time state AT each snapshot date IS that snapshot") {
    val rnd = new scala.util.Random(21)
    val keys = (1 to 12).map(_.toString)
    val dates = Seq("2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01",
      "2024-05-01")
    val snapRows = dates.map(d => d -> keys.flatMap(k =>
      if (rnd.nextDouble() < 0.75) Some((k, s"v${rnd.nextInt(4)}")) else None))
    val snaps = snapRows.map { case (d, rows) => d -> rows.toDF("k", "tier") }
    val dim0 = snaps.head._2
      .select(col("k"), col("tier"), lit(dates.head).as("valid_from"),
        lit(null).cast("string").as("valid_to"))
    val dim = Scd.scd2FoldSnapshots(dim0, snaps.tail, Seq("k"), Seq("tier"),
      closeMissing = true)
    val hist = dim.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), Option(r.getString(3))))
    // intervals per key: ordered, non-overlapping, closed ones non-empty
    hist.groupBy(_._1).foreach { case (k, vs) =>
      val sorted = vs.sortBy(_._3)
      sorted.foreach { v =>
        v._4.foreach(to => assert(v._3 < to, s"empty/inverted interval $v"))
      }
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4.isDefined, s"key $k: open row not last")
          assert(a._4.get <= b._3, s"key $k: overlap between $a and $b")
        case _ =>
      }
      assert(sorted.count(_._4.isEmpty) <= 1, s"key $k: two open rows")
    }
    // reconstruction: PIT state at each snapshot date == the snapshot
    snapRows.foreach { case (d, rows) =>
      val facts = keys.map(k => (k, d)).toDF("k", "day")
      val got = TemporalJoins.pointInTimeJoin(facts, dim, "k", "day",
          Seq("tier")).collect()
        .flatMap(r => Option(r.getString(2)).map(t => (r.getString(0), t)))
        .toSet
      assert(got == rows.toSet,
        s"state at $d diverged: got $got expected ${rows.toSet}")
    }
  }

  test("deleteMatching read-back equals the anti-join for random delete " +
      "sets, and re-deleting is a no-op") {
    val rnd = new scala.util.Random(11)
    val dir = java.nio.file.Files.createTempDirectory("graft_rdel").toString
    val ds = s"$dir/data"
    val rows = (1 to 3000).map(i => (i.toLong, rnd.nextInt(100).toLong))
    rows.toDF("id", "v").repartition(6).write.parquet(ds)
    val delIds = rnd.shuffle(rows.map(_._1)).take(400)
    val ids = delIds.toDF("id")
    val r1 = graft.core.io.Maintenance.deleteMatching(spark, ds, "id", ids)
    assert(r1.rowsDeleted == 400)
    val back = spark.read.parquet(ds).select("id").as[Long].collect().toSet
    assert(back == rows.map(_._1).toSet -- delIds)
    // idempotence: the ids are gone; a second pass touches nothing
    val r2 = graft.core.io.Maintenance.deleteMatching(spark, ds, "id", ids)
    assert(r2.rowsDeleted == 0 && r2.filesAffected == 0)
  }

  test("bloom decontamination equals the exact path, even with a " +
      "saturated undersized bloom") {
    val rnd = new scala.util.Random(5)
    val words = (1 to 40).map(i => s"w$i")
    val docs = (1 to 120).map { i =>
      (i.toLong, (1 to 20).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val exact = TextAnalysis.contaminationFlags(docs, bench,
      "doc_id", "text", n = 5)
    val bloom = TextAnalysis.contaminationFlagsBloom(docs, bench,
      "doc_id", "text", n = 5, expectedGrams = 100000L)
    assert(norm(bloom) == norm(exact))
    // a 10-slot bloom over thousands of grams is pure false positives —
    // the confirm join must still strip every one
    val saturated = TextAnalysis.contaminationFlagsBloom(docs, bench,
      "doc_id", "text", n = 5, expectedGrams = 10L, fpp = 0.5)
    assert(norm(saturated) == norm(exact))
  }

  test("vacuum + compact equals an index built without the forgotten docs " +
      "(random corpora and forget sets)") {
    val rnd = new scala.util.Random(17)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc() = (1 to 12).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    def tableRows(t: String) = spark.table(t).collect()
      .map(_.toSeq).toSet
    for (round <- 1 to 2) {
      val corpus = (1L to 30L).map(i => (i, doc())).toDF("doc_id", "text")
      val forget = rnd.shuffle((1L to 30L).toList).take(5 + rnd.nextInt(5))
      Seq("rvx", "rvy").foreach(n =>
        Seq("_shingles", "_buckets", "_meta", "_tombstones").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS $n$s")))
      try {
        // lane A: full index, tombstone vacuum, physical compact
        Dedup.writeNearDupIndex(corpus, "doc_id", "text", "rvx",
          numBuckets = 4)
        Dedup.vacuumNearDupIndex(spark, "rvx",
          forget.toDF("doc_id"))
        Dedup.compactNearDupIndex(spark, "rvx")
        // lane B: index built on the surviving corpus directly
        Dedup.writeNearDupIndex(
          corpus.filter(!col("doc_id").isin(forget: _*)),
          "doc_id", "text", "rvy", numBuckets = 4)
        assert(tableRows("rvx_shingles") === tableRows("rvy_shingles"),
          s"round $round: compacted shingles drifted from a clean rebuild")
        assert(tableRows("rvx_buckets") === tableRows("rvy_buckets"),
          s"round $round: compacted buckets drifted from a clean rebuild")
      } finally Seq("rvx", "rvy").foreach(n =>
        Seq("_shingles", "_buckets", "_meta", "_tombstones").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS $n$s")))
    }
  }

  test("BM25 vacuum + compact equals an index built without the forgotten " +
      "docs (random corpora and forget sets)") {
    val rnd = new scala.util.Random(23)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc() = (1 to 12).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    def tableRows(t: String) = spark.table(t).collect().map(_.toSeq).toSet
    for (round <- 1 to 2) {
      val corpus = (1L to 30L).map(i => (i, doc())).toDF("doc_id", "text")
      val forget = rnd.shuffle((1L to 30L).toList).take(5 + rnd.nextInt(5))
      Seq("rbx", "rby").foreach(n =>
        Seq("_postings", "_doclens", "_meta", "_tombstones", "_meta_vac")
          .foreach(s => spark.sql(s"DROP TABLE IF EXISTS $n$s")))
      try {
        Search.writeBm25Index(corpus, "doc_id", "text", "rbx", numBuckets = 4)
        Search.vacuumBm25Index(spark, "rbx", forget.toDF("doc_id"))
        Search.compactBm25Index(spark, "rbx")
        Search.writeBm25Index(corpus.filter(!col("doc_id").isin(forget: _*)),
          "doc_id", "text", "rby", numBuckets = 4)
        assert(tableRows("rbx_postings") === tableRows("rby_postings"),
          s"round $round: compacted postings drifted from a clean rebuild")
        assert(tableRows("rbx_doclens") === tableRows("rby_doclens"),
          s"round $round: compacted doclens drifted from a clean rebuild")
        assert(tableRows("rbx_meta") === tableRows("rby_meta"),
          s"round $round: recounted meta drifted from a clean rebuild")
      } finally Seq("rbx", "rby").foreach(n =>
        Seq("_postings", "_doclens", "_meta", "_tombstones", "_meta_vac")
          .foreach(s => spark.sql(s"DROP TABLE IF EXISTS $n$s")))
    }
  }

  test("drift monitors are invariant under row permutation and partition " +
      "count (psiByGroup / psiCategorical / embeddingDrift)") {
    val rnd = new scala.util.Random(31)
    val groups = Seq("a", "b", "c")
    def snap(shift: Double) = (1 to 600).map { i =>
      (groups(rnd.nextInt(3)), rnd.nextDouble() * 100 + shift)
    }
    val refRows = snap(0.0)
    val curRows = snap(15.0)
    def df(rows: Seq[(String, Double)]) = rows.toDF("g", "v")
    def canon(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(_.toSeq).toSet
    // baseline on the declared order / default partitioning
    val pg0 = canon(Stats.psiByGroup(df(refRows), df(curRows), "g", "v",
      bins = 4))
    val pc0 = canon(Stats.psiCategorical(df(refRows), df(curRows), "g"))
    assert(pg0.nonEmpty && pc0.nonEmpty)
    val ks0 = canon(Stats.ksByGroup(df(refRows), df(curRows), "g", "v",
      buckets = 4))
    assert(ks0.nonEmpty)
    for (seed <- 1 to 2) {
      val r2 = new scala.util.Random(seed)
      val refP = df(r2.shuffle(refRows)).repartition(1 + r2.nextInt(13))
      val curP = df(r2.shuffle(curRows)).repartition(1 + r2.nextInt(13))
      assert(canon(Stats.psiByGroup(refP, curP, "g", "v", bins = 4)) === pg0,
        s"psiByGroup drifted under permutation seed $seed")
      assert(canon(Stats.psiCategorical(refP, curP, "g")) === pc0,
        s"psiCategorical drifted under permutation seed $seed")
      assert(canon(Stats.ksByGroup(refP, curP, "g", "v", buckets = 4)) === ks0,
        s"ksByGroup drifted under permutation seed $seed")
    }
    // embeddingDrift: micro-quantized integer sums must make the
    // centroid cosine a pure function of the row multiset
    def edf(rows: Seq[(String, Double)], salt: Int) = rows.map {
      case (g, v) =>
        (g, Array.tabulate(8)(j =>
          (math.sin(v + j + salt) * 3).toFloat).toSeq)
    }.toDF("g", "e").select(col("g"), col("e").cast("array<float>").as("e"))
    val ed0 = canon(Similarity.embeddingDrift(edf(refRows, 0),
      edf(curRows, 1), "g", "e"))
    assert(ed0.nonEmpty)
    for (seed <- 1 to 2) {
      val r2 = new scala.util.Random(seed + 7)
      val refP = edf(r2.shuffle(refRows), 0).repartition(1 + r2.nextInt(13))
      val curP = edf(r2.shuffle(curRows), 1).repartition(1 + r2.nextInt(13))
      assert(canon(Similarity.embeddingDrift(refP, curP, "g", "e")) === ed0,
        s"embeddingDrift drifted under permutation seed $seed")
    }
  }

  test("reservoir merge is associative: random batch splits reproduce the " +
      "one-shot sampler exactly") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 400).map { i =>
      (i.toLong, s"g${rnd.nextInt(5)}", rnd.nextInt(50).toLong + 1)
    }
    def df(rs: Seq[(Long, String, Long)]) = rs.toDF("id", "g", "w")
    val truth = graft.ops.Sampling
      .prioritySamplePerGroup(df(rows), "id", "g", "w", n = 7)
      .collect().map(_.toSeq).toSet
    for (seed <- 1 to 3) {
      val r2 = new scala.util.Random(seed)
      val shuffled = r2.shuffle(rows)
      val nBatches = 2 + r2.nextInt(4)
      // each random batch contracts to its own per-group top-n (exactly
      // what Sampling.reservoirPartial lands), then reservoirMerge folds them —
      // the deterministic E-S key makes top-n associative, so ANY split
      // must reproduce the one-shot answer bit for bit
      val partials = shuffled.grouped(
          math.max(1, shuffled.size / nBatches)).toSeq
        .map(chunk => graft.ops.Sampling
          .prioritySamplePerGroup(df(chunk), "id", "g", "w", n = 7)
          .drop("rank"))
      val merged = graft.ops.Sampling.reservoirMerge(
          partials.reduce(_.unionByName(_)), "id", "g", n = 7)
        .collect().map(_.toSeq).toSet
      assert(merged === truth, s"reservoir merge drifted under seed $seed")
    }
  }

  test("reservoir merge picks a deterministic winner when the same id " +
      "ties on key_micro with a changed payload") {
    // same id, same (id, w) → identical E-S key, but a non-key attribute
    // changed between batches: the per-id collapse must resolve the tie
    // identically on every run and under any input order
    val a = Seq((1L, "gA", 10L), (2L, "gA", 3L)).toDF("id", "g", "w")
      .withColumn("key_micro",
        graft.ops.Sampling.esKeyMicro("id", "w", "es"))
    val b = Seq((1L, "gB", 10L), (3L, "gA", 4L)).toDF("id", "g", "w")
      .withColumn("key_micro",
        graft.ops.Sampling.esKeyMicro("id", "w", "es"))
    def run(parts: Seq[org.apache.spark.sql.DataFrame]) =
      graft.ops.Sampling.reservoirMerge(
          parts.reduce(_.unionByName(_)).repartition(7), "id", "g", n = 5)
        .collect().map(_.toSeq).toSet
    val first = run(Seq(a, b))
    assert(first.count(_.head == 1L) === 1, "one row per id survives")
    for (_ <- 1 to 3) assert(run(Seq(b, a)) === first,
      "equal-key merge must be order-independent and replay-stable")
  }

  test("reservoir merge tolerates map-typed payload columns in the " +
      "tie-break hash") {
    // xxhash64 rejects MapType at analysis (even nested in a struct);
    // the tie-break must route map-bearing columns through to_json, not
    // fail the merge of a partials frame carrying a map payload
    import org.apache.spark.sql.functions.{map, lit, struct}
    val parts = Seq((1L, "gA", 10L), (1L, "gA", 10L), (2L, "gA", 3L))
      .toDF("id", "g", "w")
      .withColumn("key_micro",
        graft.ops.Sampling.esKeyMicro("id", "w", "es"))
      .withColumn("attrs", map(lit("k"), col("id") * 2))
      .withColumn("nested", struct(map(lit("n"), lit("v")).as("m")))
    val merged = graft.ops.Sampling
      .reservoirMerge(parts, "id", "g", n = 5)
      .collect()
    assert(merged.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L),
      "map payload merge collapses to one row per id")
  }

  test("updateClusters equals the full recompute under random edge waves") {
    val rnd = new scala.util.Random(43)
    // random sparse graph over 120 nodes plus a 40-edge path — the path is
    // the adversarial case: consecutive edges land in different waves, so
    // late waves must repeatedly merge standing components
    val edges = ((1 to 150).map(_ =>
        (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      ++ (0 until 40).map(i => (200L + i, 201L + i)))
      .filter(e => e._1 != e._2)
    def df(es: Seq[(Long, Long)]) = es.toDF("a_id", "b_id")
    val full = Dedup.connectedComponents(df(edges)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (seed <- 1 to 3) {
      val r2 = new scala.util.Random(seed)
      val (w1, rest) = r2.shuffle(edges).splitAt(edges.size / 3)
      val (w2, w3) = rest.splitAt(rest.size / 2)
      val l3 = Dedup.updateClusters(
          Dedup.updateClusters(Dedup.connectedComponents(df(w1)), df(w2)),
          df(w3)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(l3 === full, s"incremental labels drifted under seed $seed")
    }
  }

  test("pruned reads equal the full filter for random layouts and ranges") {
    import graft.core.io.Skipping
    import graft.core.io.Skipping.ColumnRange
    val rnd = new scala.util.Random(44)
    for (round <- 1 to 3) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_skipinv$round").toString
      val n = 300 + rnd.nextInt(400)
      // values deliberately include negatives, duplicates and a null
      // stripe; layout is whatever repartition(k) hashes out — file
      // stats overlap arbitrarily, unlike the clustered happy path
      val rows = (1 to n).map(i => (i.toLong,
        if (i % 17 == 0) None else Some(rnd.nextInt(2000).toLong - 1000),
        f"s${rnd.nextInt(1000)}%04d"))
      rows.toDF("id", "v", "s")
        .repartition(2 + rnd.nextInt(5))
        .write.parquet(s"$root/data")
      Skipping.writeStatsManifest(spark, s"$root/data", Seq("v", "s"),
        s"$root/mf")
      for (_ <- 1 to 4) {
        val lo = rnd.nextInt(2400).toLong - 1200
        val hi = lo + rnd.nextInt(800)
        val sLo = f"s${rnd.nextInt(1000)}%04d"
        val ranges = rnd.nextInt(3) match {
          case 0 => Seq(ColumnRange("v", Some(lo), Some(hi)))
          case 1 => Seq(ColumnRange("s", Some(sLo), None))
          case _ => Seq(ColumnRange("v", Some(lo), Some(hi)),
            ColumnRange("s", None, Some(sLo)))
        }
        val got = Skipping.read(spark, s"$root/data", s"$root/mf", ranges)
        val want = ranges.map { r =>
          val c = col(r.column)
          (r.lower.map(x => c >= lit(x)) ++ r.upper.map(x => c <= lit(x)))
            .reduce(_ && _)
        }.reduce(_ && _)
        val full = spark.read.parquet(s"$root/data").filter(want)
        assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty,
          s"round $round ranges $ranges")
      }
    }
  }

  test("overlap cards: estimate is exact whenever the pair union fits in k") {
    val rnd = new scala.util.Random(3)
    val rows = for {
      g <- Seq("a", "b", "c")
      v <- rnd.shuffle((1 to 200).toList).take(40 + rnd.nextInt(20))
    } yield (g, v)
    val out = Sketches.kmvOverlapCards(rows.toDF("g", "v"), "g", "v",
      k = 256).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("uni") <= 256,
        "fixture must keep unions under k")
      assert(r.getAs[Double]("est_jaccard") == r.getAs[Double]("jaccard"),
        s"union<k must make the sketch exact: $r")
    }
  }
}
