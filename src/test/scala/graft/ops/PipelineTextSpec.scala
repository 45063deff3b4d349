package graft.ops

import graft.SparkSpec
import graft.functions.{NativeFunctions, NormalizeUtf8}
import org.apache.spark.sql.functions._

/** Round-4 pipeline-text operators: line dedup, NFC normalization, domain
  * capping, TF-IDF, stratified sampling.
  */
class DedupLinesSpec extends SparkSpec {
  import spark.implicits._

  test("a line survives only at its first corpus position; docs reassemble in order") {
    val docs = Seq(
      (1L, "alpha\nboiler\nbeta"),
      (2L, "boiler\ngamma"),
      (3L, "boiler")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text").orderBy("doc_id").collect()
    // doc 3 was pure boilerplate — dropped entirely
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out(0).getString(1) == "alpha\nboiler\nbeta")
    assert(out(1).getString(1) == "gamma")
    assert(out(1).getAs[Long]("n_kept") == 1L && out(1).getAs[Long]("n_dropped") == 1L)
  }

  test("repeats inside one document dedup too, and order keys on (id, idx)") {
    val docs = Seq(
      (5L, "x\ny\nx"),
      (4L, "z\nx")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text").orderBy("doc_id").collect()
    // x first occurs at (4, 1) — both copies in doc 5 drop
    assert(out(0).getString(1) == "z\nx")
    assert(out(1).getString(1) == "y")
    assert(out(1).getAs[Long]("n_dropped") == 2L)
  }

  test("custom separator and id column name are honored") {
    val docs = Seq((1L, "a|b"), (2L, "b|c")).toDF("k", "t")
    val out = Dedup.dedupLines(docs, "k", "t", sep = "|").orderBy("k").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("a|b", "c"))
    assert(out(0).schema.fieldNames.toSeq ==
      Seq("k", "text", "n_kept", "n_dropped"))
  }
}

/** Cross-document substring-level dedup: planted mid-document boilerplate
  * spans are cut at every occurrence but the first; within-doc-only
  * repetition and unique text pass through.
  */
class DedupSpansSpec extends SparkSpec {
  import spark.implicits._

  private val boiler = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10" // 10 tokens

  test("a repeated >=k-token span survives only in its first host document") {
    val docs = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"one two three $boiler four"),
      (3L, "unrelated text with no repeated content at all in this row"),
      (4L, boiler) // pure boilerplate — must disappear
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "doc 4 must vanish")
    assert(out(0).getString(1) == s"alpha beta $boiler gamma delta")
    assert(out(0).getAs[Long]("n_removed") == 0L)
    assert(out(1).getString(1) == "one two three four")
    assert(out(1).getAs[Long]("n_removed") == 10L)
    assert(out(2).getAs[Long]("n_removed") == 0L)
  }

  test("within-doc-only repetition is untouched; short docs pass through") {
    val docs = Seq(
      (7L, s"$boiler middle words here $boiler"), // repeats only within doc 7
      (8L, "tiny doc")                            // fewer than k tokens
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == s"$boiler middle words here $boiler")
    assert(out(0).getAs[Long]("n_removed") == 0L)
    assert(out(1).getString(1) == "tiny doc")
    assert(out(1).getAs[Long]("n_removed") == 0L)
  }

  test("a span longer than k is cut in full (window coverage union)") {
    val long = (1 to 20).map(i => s"w$i").mkString(" ") // 20-token span
    val docs = Seq(
      (1L, s"intro $long outro"),
      (2L, s"different opening here $long and a different close")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_removed") == 0L)
    assert(out(1).getString(1) == "different opening here and a different close")
    assert(out(1).getAs[Long]("n_removed") == 20L)
  }
}

/** Span-level decontamination: corpus spans matching a reference (eval)
  * corpus are cut wherever they occur; everything else — including text
  * repeated across corpus docs but absent from the reference — survives.
  */
class DedupSpansAgainstSpec extends SparkSpec {
  import spark.implicits._

  private val evalSpan = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10" // 10 tokens

  test("only reference-matching spans are cut; corpus-internal dups survive") {
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      (1L, s"alpha beta $evalSpan gamma delta"),
      (2L, s"$boiler one two"),
      (3L, s"three four $boiler"), // boiler repeats in corpus, not in ref
      (4L, evalSpan)               // pure contamination — must vanish
    ).toDF("doc_id", "text")
    val ref = Seq((100L, s"prompt says $evalSpan answer")).toDF("doc_id", "text")
    val out = Dedup.dedupSpansAgainst(docs, ref, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "doc 4 must vanish")
    assert(out(0).getString(1) == "alpha beta gamma delta")
    assert(out(0).getAs[Long]("n_removed") == 10L)
    // corpus-internal duplication is NOT decontamination — both copies stay
    assert(out(1).getString(1) == s"$boiler one two")
    assert(out(2).getString(1) == s"three four $boiler")
    assert(out(1).getAs[Long]("n_removed") == 0L)
  }

  test("sub-k overlap passes through; shuffle fallback matches broadcast path") {
    val docs = Seq(
      (1L, "q1 q2 q3 q4 q5 other words entirely different here now"),
      (2L, s"intro $evalSpan outro")
    ).toDF("doc_id", "text")
    val ref = Seq((9L, evalSpan)).toDF("doc_id", "text")
    val bc = Dedup.dedupSpansAgainst(docs, ref, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
    // 7-token overlap (< k=8) is not a contaminated span
    assert(bc(0).getString(1).startsWith("q1 q2 q3 q4 q5"))
    assert(bc(0).getAs[Long]("n_removed") == 0L)
    assert(bc(1).getString(1) == "intro outro")
    val shuf = Dedup.dedupSpansAgainst(docs, ref, "doc_id", "text", k = 8,
      maxBroadcastWins = 0L).orderBy("doc_id").collect()
    assert(bc.map(_.toSeq).toSeq == shuf.map(_.toSeq).toSeq)
  }

  test("refWinRows hint skips the gate count and picks the broadcast path") {
    val docs = Seq((1L, s"pre $evalSpan post")).toDF("doc_id", "text")
    val ref = Seq((9L, evalSpan)).toDF("doc_id", "text")
    val out = Dedup.dedupSpansAgainst(docs, ref, "doc_id", "text", k = 8,
      refWinRows = Some(3L))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(out.collect().head.getString(1) == "pre post")
  }
}

class NormalizeUtf8Spec extends SparkSpec {
  import spark.implicits._

  test("NFC composes decomposed sequences; codegen and SQL registry agree") {
    val decomposed = "café über" // e+combining acute, u+combining diaeresis
    val composed = "café über"
    val df = Seq(decomposed).toDF("s")
    val viaColumn = df.select(NativeFunctions.normNfc(col("s"))).as[String].head()
    assert(viaColumn == composed)
    val viaSql = df.createOrReplaceTempView("norm_in")
    assert(spark.sql("SELECT norm_nfc(s) FROM norm_in").as[String].head() == composed)
  }

  test("interpreted eval matches codegen, nulls pass through, NFC is idempotent") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val e = NormalizeUtf8(Literal.create("café", org.apache.spark.sql.types.StringType))
    assert(e.eval(null) == UTF8String.fromString("café"))
    val df = Seq(Some("Å"), None).toDF("s") // A + combining ring
    val out = df.select(NativeFunctions.normNfc(col("s"))).as[Option[String]].collect()
    assert(out.toSet == Set(Some("Å"), None))
    val twice = Seq("café").toDF("s")
      .select(NativeFunctions.normNfc(NativeFunctions.normNfc(col("s"))))
      .as[String].head()
    assert(twice == "café")
  }

  test("invalid form and non-string input fail loudly") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    intercept[IllegalArgumentException] {
      NormalizeUtf8(Literal.create("x", org.apache.spark.sql.types.StringType), "NFX")
    }
    val bad = NormalizeUtf8(Literal.create(1, org.apache.spark.sql.types.IntegerType))
    assert(!bad.checkInputDataTypes().isSuccess)
  }
}

class WebTextSpec extends SparkSpec {
  import spark.implicits._

  test("domainOf handles userinfo, ports, case, and www stripping") {
    val urls = Seq(
      "https://user:pw@WWW.News.Example.com:8080/a?b#c",
      "http://example.org/x",
      "ftp://www.files.net",
      "not a url").toDF("url")
    val out = urls.select(WebText.domainOf(col("url"))).as[String].collect()
    assert(out.toSeq == Seq("news.example.com", "example.org", "files.net", ""))
  }

  test("normalizeUrl drops query and fragment, keeps path") {
    val out = Seq("https://a.com/p/1?utm=x#f", "https://a.com/p/2")
      .toDF("url").select(WebText.normalizeUrl(col("url"))).as[String].collect()
    assert(out.toSeq == Seq("https://a.com/p/1", "https://a.com/p/2"))
  }

  test("capPerDomain keeps first N by order, deterministic under reshuffle") {
    val docs = (1L to 20L).map(i => (i, s"https://site${i % 2}.com/$i"))
      .toDF("doc_id", "url")
    val out = WebText.capPerDomain(docs.repartition(7), "url", cap = 3,
        order = Seq(col("doc_id")))
      .orderBy("doc_id").collect()
    assert(out.length == 6)
    // first three ids of each parity class
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(out.forall(r => r.getAs[Int]("domain_rank") <= 3))
    intercept[IllegalArgumentException] {
      WebText.capPerDomain(docs, "url", cap = 0, order = Seq(col("doc_id")))
    }
  }
}

class TfidfSpec extends SparkSpec {
  import spark.implicits._

  test("tfidf ranks corpus-rare terms above common ones, tie-broken by term") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry durian cherry")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank").collect()
    // doc 1: apple tf=2 df=1 → 2·ln3 ≈ 2.1972 beats banana 1·ln(1.5)
    val top1 = out.filter(_.getLong(0) == 1L)
    assert(top1.map(r => (r.getString(1), r.getInt(5))).toSeq ==
      Seq(("apple", 1), ("banana", 2)))
    assert(math.abs(top1(0).getDouble(4) - 2 * math.log(3.0)) < 1e-3)
    // doc 2: banana and cherry both 1·ln(1.5) — tie breaks alphabetically
    val top2 = out.filter(_.getLong(0) == 2L)
    assert(top2.map(_.getString(1)).toSeq == Seq("banana", "cherry"))
  }

  test("oversized vocabulary degrades to a shuffle join instead of broadcasting") {
    val docs = Seq((1L, "a b c"), (2L, "c d")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 1,
      maxBroadcastTerms = 1L)
    assert(out.count() == 2)
  }
}

class HintEscapeSpec extends SparkSpec {
  import spark.implicits._

  /** Count Dataset actions over plans mentioning `marker` while `body`
    * runs, via a QueryExecutionListener. Events arrive async but FIFO,
    * so a sentinel action posted last proves body's events (if any) were
    * delivered; marker-filtering keeps concurrently-running suites from
    * polluting the count.
    */
  private def markedActionsDuring(marker: String)(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger
    @volatile var sentinelSeen = false
    val sentinelCol = s"${marker}_sentinel"
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val p = qe.analyzed.toString
        if (p.contains(sentinelCol)) sentinelSeen = true
        else if (p.contains(marker)) counter.incrementAndGet(): Unit
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          error: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      Seq(1).toDF(sentinelCol).count()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime < deadline) Thread.sleep(10)
      assert(sentinelSeen, "listener never delivered the sentinel action")
      counter.get
    } finally spark.listenerManager.unregister(l)
  }

  test("vocabTerms / benchGramRows hints skip the plan-build gate count") {
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, "beta gamma epsilon zeta")).toDF("doc_id", "hintesc_text")
    val bench = Seq((1L, "gamma delta epsilon")).toDF("doc_id", "hintesc_text")
    // without the hint, each builder runs one eager gate count
    assert(markedActionsDuring("hintesc_text") {
      TextAnalysis.tfidfTopTerms(docs, "doc_id", "hintesc_text"): Unit
    } >= 1)
    assert(markedActionsDuring("hintesc_text") {
      TextAnalysis.contaminationFlags(docs, bench, "doc_id", "hintesc_text",
        n = 2): Unit
    } >= 1)
    // with the hint, building the plan runs NO job at all
    assert(markedActionsDuring("hintesc_text") {
      TextAnalysis.tfidfTopTerms(docs, "doc_id", "hintesc_text",
        vocabTerms = Some(6L)): Unit
    } == 0)
    assert(markedActionsDuring("hintesc_text") {
      TextAnalysis.contaminationFlags(docs, bench, "doc_id", "hintesc_text",
        n = 2, benchGramRows = Some(2L)): Unit
    } == 0)
  }
}

class DeltaDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near the old stone bridge today"

  test("cross pairs link corpus to delta only, never within a side") {
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    val delta = Seq(
      (20L, base + " again"), // near-dup of 10
      (21L, base + " again"), // exact text of 20 — but cross pairs ignore delta-delta
      (22L, "completely different words about spark shuffles and parquet row groups here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsAcross(corpus, delta, "doc_id", "text",
      threshold = 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((10L, 20L), (10L, 21L)))
    assert(pairs.forall(_.getDouble(2) >= 0.8))
  }

  test("delta survivors: within-delta clusters collapse, corpus near-dups drop") {
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    val fresh = "completely different words about spark shuffles and parquet row groups here"
    val delta = Seq(
      (20L, base + " again"),  // near-dup of corpus → drops
      (21L, base + " again"),  // delta-cluster of 20 (non-min) → drops
      (30L, fresh),            // fresh, min of its cluster → survives
      (31L, fresh + " too")    // near-dup of 30, non-min → drops
    ).toDF("doc_id", "text")
    val out = Dedup.dropNearDuplicatesAgainst(corpus, delta, "doc_id", "text",
      threshold = 0.8, n = 3, maxBandFreq = None).select("doc_id").as[Long]
      .collect().toSet
    assert(out == Set(30L))
  }
}

class PackSequencesSpec extends SparkSpec {
  import spark.implicits._

  test("greedy fill in id order: bins and offsets are exact") {
    val df = (1L to 6L).map(i => (i, 1000L)).toDF("id", "n_tok")
    val out = Sampling.packSequences(df, "id", "n_tok", budget = 2048L, shards = 1)
      .orderBy("id").collect()
    assert(out.forall(_.getAs[Long]("shard") == 0L))
    assert(out.map(_.getAs[Long]("bin")).toSeq == Seq(0L, 0L, 0L, 1L, 1L, 2L))
    assert(out.map(_.getAs[Long]("bin_offset")).toSeq ==
      Seq(0L, 1000L, 2000L, 952L, 1952L, 904L))
  }

  test("layout is deterministic and partitioning-independent") {
    val df = (1L to 200L).map(i => (i, (i % 7) * 100 + 50)).toDF("id", "n_tok")
    def layout(d: org.apache.spark.sql.DataFrame) =
      Sampling.packSequences(d, "id", "n_tok", budget = 1024L, shards = 4)
        .select("id", "shard", "bin", "bin_offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(layout(df) == layout(df.repartition(17)))
    intercept[IllegalArgumentException] {
      Sampling.packSequences(df, "id", "n_tok", budget = 0L)
    }
  }
}

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits exactly, ignoring bits beyond the mask") {
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (1023L, 511L),
      (4096L + 7L, 13L)) // 4096 is beyond 10 bits — must be ignored
    val df = cases.toDF("x", "y")
    val out = df.select(Layout.zValue(Seq(col("x"), col("y")), bits = 10))
      .as[Long].collect()
    assert(out.toSeq == cases.map { case (x, y) => ref(x & 1023, y & 1023, 10) })
    intercept[IllegalArgumentException] { Layout.zValue(Seq(col("x")), 10) }
    intercept[IllegalArgumentException] {
      Layout.zValue(Seq(col("x"), col("y")), 32)
    }
  }

  test("z-ordered files carry tighter per-file min/max than an unsorted write") {
    val n = 20000
    // two independent dimensions, shuffled arrival order
    val df = (0 until n).map { i =>
      val r = new scala.util.Random(i).nextInt(1024)
      (i.toLong, ((i * 2654435761L) % 1024 + 1024) % 1024, r.toLong)
    }.toDF("id", "x", "y")
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    df.repartition(8).write.mode("overwrite").parquet(s"$base/plain")
    Layout.zorderWrite(df, Seq(col("x"), col("y")), s"$base/zorder",
      numFiles = 8, bits = 10)
    def avgSpan(path: String, dim: String): Double =
      spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(dim) - min(dim)).as("span"))
        .agg(avg("span")).as[Double].head()
    // both dims should cluster; unsorted files span ~the full 0..1023 range
    assert(avgSpan(s"$base/zorder", "x") < avgSpan(s"$base/plain", "x") * 0.7)
    assert(avgSpan(s"$base/zorder", "y") < avgSpan(s"$base/plain", "y") * 0.7)
  }

  test("range-sorted files have disjoint min/max on the sort dimension") {
    val n = 20000
    val df = (0 until n).map { i =>
      (i.toLong, ((i * 2654435761L) % 4096 + 4096) % 4096)
    }.toDF("id", "v")
    val base = java.nio.file.Files.createTempDirectory("graft_range").toString
    Layout.rangeSortedWrite(df, col("v"), s"$base/sorted", numFiles = 8)
    val spans = spark.read.parquet(s"$base/sorted")
      .groupBy(input_file_name())
      .agg(min("v").as("lo"), max("v").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(spans.length > 1)
    // contiguous, non-overlapping ranges: each file's lo exceeds the
    // previous file's hi — a point predicate prunes all but one file
    spans.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(lo2 > hi1, s"file ranges overlap: hi=$hi1 vs next lo=$lo2")
    }
    // every row survives the layout rewrite
    assert(spark.read.parquet(s"$base/sorted").count() == n)
  }

  test("shuffledWrite is a deterministic global shuffle; salt changes it") {
    val df = (0 until 5000).map(i => (i.toLong, s"doc$i")).toDF("id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_shuffle").toString
    Layout.shuffledWrite(df, "id", salt = "ep0", s"$base/a", numFiles = 4)
    Layout.shuffledWrite(df, "id", salt = "ep0", s"$base/b", numFiles = 4)
    Layout.shuffledWrite(df, "id", salt = "ep1", s"$base/c", numFiles = 4)
    def order(path: String): Seq[Long] = {
      // read per file in stored order, files sorted by name — the exact
      // byte layout a training loader would stream
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
      files.toSeq.flatMap(f =>
        spark.read.parquet(f).select("id").as[Long].collect().toSeq)
    }
    val a = order(s"$base/a")
    assert(a.toSet == (0 until 5000).map(_.toLong).toSet, "rows lost")
    assert(a == order(s"$base/b"), "same salt must reproduce the layout")
    assert(a != order(s"$base/c"), "a new salt must reshuffle")
    assert(a != a.sorted, "output must not be in ingest order")
  }

  test("tiebreak pins equal-sort-key row order (hash-collision determinism)") {
    // a low-cardinality sort key makes every key a collision: without the
    // tiebreak, order within a key is shuffle arrival order — the exact
    // failure mode shuffledWrite hits past ~1e5 rows on its 2^30 hash
    val df = (0 until 2000).map(i => (i.toLong, i % 7)).toDF("id", "k")
      // scramble input order so "pinned" can't mean "incidental input order"
      .orderBy(org.apache.spark.sql.functions.expr("hash(id)"))
    val base = java.nio.file.Files.createTempDirectory("graft_tiebrk").toString
    Layout.rangeSortedWrite(df, col("k"), s"$base/t", numFiles = 3,
      tiebreak = Seq(col("id")))
    val files = new java.io.File(s"$base/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    val rows = files.toSeq.flatMap(f =>
      spark.read.parquet(f).select("k", "id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq)
    assert(rows == rows.sortBy(identity),
      "equal-key rows must stream in (k, id) order")
    assert(rows.size == 2000)
  }
}

class ZorderCompactionSpec extends SparkSpec {
  import spark.implicits._
  import graft.core.io.Maintenance

  private def fixture(n: Int, seed: Int) = (0 until n).map { i =>
    val r = new scala.util.Random(seed * 7919 + i)
    (seed * 1000000L + i, r.nextInt(1024).toLong, r.nextInt(1024).toLong)
  }.toDF("id", "x", "y")

  private def maxOverlap(path: String): Int = {
    val spans = spark.read.parquet(path)
      .select(input_file_name().as("f"),
        Layout.zValue(Seq(col("x"), col("y")), 10).as("z"))
      .groupBy("f").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    if (spans.length < 2) 0
    else spans.indices.map { i =>
      spans.indices.count(j => j != i &&
        spans(j)._1 <= spans(i)._2 && spans(j)._2 >= spans(i)._1)
    }.max
  }

  private def parquetBytes(dir: String): Long =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

  test("appends decay clustering; compactZorder restores tight disjoint files") {
    val base = java.nio.file.Files.createTempDirectory("graft_zcompact").toString
    val dir = s"$base/data"
    val df = fixture(8000, 0)
    Layout.zorderWrite(df, Seq(col("x"), col("y")), dir, numFiles = 4, bits = 10)
    assert(maxOverlap(dir) == 0, "fresh z-order write must be disjoint")
    val appended = fixture(2000, 1)
    appended.coalesce(1).write.mode("append").parquet(dir)
    assert(maxOverlap(dir) > 0, "an unsorted append must decay the clustering")
    val target = math.max(1L, parquetBytes(dir) / 4)
    val res = Maintenance.compactZorder(spark, dir, Seq("x", "y"), bits = 10,
      targetFileBytes = target)
    assert(res.length == 1 && res.head.reclustered && res.head.maxOverlapBefore > 0)
    assert(maxOverlap(dir) == 0, "recluster must restore disjoint per-file z ranges")
    val expect = df.unionByName(appended).collect().map(_.toSeq).toSet
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == expect,
      "compaction must preserve every row")
    // the layout is clean now: a second call must not rewrite anything
    val again = Maintenance.compactZorder(spark, dir, Seq("x", "y"), bits = 10,
      targetFileBytes = target)
    assert(!again.head.reclustered && again.head.maxOverlapBefore == 0)
  }

  test("partitioned layout: only the degraded partition is rewritten") {
    val base = java.nio.file.Files.createTempDirectory("graft_zcompact_p").toString
    val dir = s"$base/part"
    Layout.zorderWrite(fixture(4000, 2), Seq(col("x"), col("y")),
      s"$dir/p=a", numFiles = 3, bits = 10)
    Layout.zorderWrite(fixture(4000, 3), Seq(col("x"), col("y")),
      s"$dir/p=b", numFiles = 3, bits = 10)
    def listing(p: String) = new java.io.File(s"$dir/p=$p").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toSet
    val bBefore = listing("b")
    fixture(1000, 4).coalesce(1).write.mode("append").parquet(s"$dir/p=a")
    val target = math.max(1L, parquetBytes(s"$dir/p=b") / 3)
    val res = Maintenance.compactZorder(spark, dir, Seq("x", "y"), bits = 10,
      targetFileBytes = target)
    val byPart = res.map(r => r.partition.split("/").last -> r).toMap
    assert(byPart("p=a").reclustered, "appended-to partition must recluster")
    assert(!byPart("p=b").reclustered, "clean partition must be left alone")
    assert(listing("b") == bBefore, "clean partition's files must be untouched")
    assert(maxOverlap(s"$dir/p=a") == 0)
  }

  test("a crashed swap's orphaned partition is restored, not compacted as data") {
    val base = java.nio.file.Files.createTempDirectory("graft_zcrash").toString
    val dir = s"$base/part"
    val a = fixture(3000, 5); val b = fixture(3000, 6)
    Layout.zorderWrite(a, Seq(col("x"), col("y")), s"$dir/p=a", 2, bits = 10)
    Layout.zorderWrite(b, Seq(col("x"), col("y")), s"$dir/p=b", 2, bits = 10)
    // simulate dying between the swap's two renames: the visible dir is
    // gone and the ONLY copy sits at the hidden _zcompact_old path, next
    // to a half-written tmp dir
    val fsRoot = new java.io.File(dir)
    assert(new java.io.File(fsRoot, "p=a")
      .renameTo(new java.io.File(fsRoot, ".p=a_zcompact_old")))
    new java.io.File(fsRoot, ".p=a_zcompact_tmp").mkdirs()
    val res = Maintenance.compactZorder(spark, dir, Seq("x", "y"), bits = 10)
    // both real partitions are back in the report; the hidden leftovers
    // were never treated as partitions of their own
    assert(res.map(_.partition.split("/").last).toSet == Set("p=a", "p=b"),
      s"hidden swap dirs leaked into the partition listing: $res")
    val expect = a.unionByName(b).collect().map(_.toSeq).toSet
    assert(spark.read.parquet(dir).select("id", "x", "y")
        .collect().map(_.toSeq).toSet == expect,
      "restored partition lost rows")
  }
}

class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  test("below k the count is exact; above k the estimate lands near truth") {
    val df = ((1 to 40).map(v => ("small", v)) ++
      (1 to 5000).map(v => ("big", v))).toDF("grp", "v")
    val out = Sketches.kmvDistinct(df, Seq("grp"), "v", k = 64)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_kept"), r.getAs[Double]("est_distinct"))).toMap
    assert(out("small") == ((40L, 40.0)))
    val (kept, est) = out("big")
    assert(kept == 64L)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.3, s"estimate $est too far from 5000")
  }

  test("the estimate is a pure function of the value set") {
    val a = (1 to 500).map(v => ("g", v)).toDF("grp", "v")
    // same values, duplicated rows, different partitioning
    val b = ((1 to 500) ++ (1 to 500)).map(v => ("g", v)).toDF("grp", "v")
      .repartition(11)
    def est(d: org.apache.spark.sql.DataFrame) =
      Sketches.kmvDistinct(d, Seq("grp"), "v", k = 16)
        .select("est_distinct").as[Double].head()
    assert(est(a) == est(b))
    intercept[IllegalArgumentException] {
      Sketches.kmvDistinct(a, Seq("grp"), "v", k = 2)
    }
  }

  test("overlap cards: exact matches set arithmetic, estimate lands near it") {
    // A = 1..1000, B = 501..1500 (jaccard 1/3), C disjoint 9001..9500
    val df = ((1 to 1000).map(v => ("a", v)) ++
      (501 to 1500).map(v => ("b", v)) ++
      (9001 to 9500).map(v => ("c", v))).toDF("grp", "v")
    val out = Sketches.kmvOverlapCards(df, "grp", "v", k = 128)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val ab = out(("a", "b"))
    assert(ab.getAs[Long]("inter") == 500L && ab.getAs[Long]("uni") == 1500L)
    assert(ab.getAs[Double]("jaccard") == 0.3333)
    // k=128 over a 1500-union: sampling error ~1/sqrt(k) — stay within 0.15
    assert(math.abs(ab.getAs[Double]("est_jaccard") - 1.0 / 3) < 0.15)
    val ac = out(("a", "c"))
    assert(ac.getAs[Long]("inter") == 0L &&
      ac.getAs[Double]("est_jaccard") == 0.0)
  }

  test("overlap cards: withExact=false runs only the sketch path") {
    val df = ((1 to 300).map(v => ("a", v)) ++
      (200 to 400).map(v => ("b", v))).toDF("grp", "v")
    val plan = Sketches.kmvOverlapCards(df, "grp", "v", k = 64,
      withExact = false)
    val r = plan.collect().head
    assert(r.getAs[Long]("inter") == -1L && r.getAs[Double]("jaccard") == -1.0)
    assert(r.getAs[Long]("union_k") == 64L)
    // the exact path's value-keyed self-join must be absent from the plan
    val phys = plan.queryExecution.executedPlan.toString
    assert(!phys.contains("_ga"), "exact self-join ran despite withExact=false")
    // estimate still sane: true jaccard = 101/401 ~ 0.25
    assert(math.abs(r.getAs[Double]("est_jaccard") - 101.0 / 401) < 0.2)
  }
}

class BigramLmSpec extends SparkSpec {
  import spark.implicits._

  test("held-out scoring separates fluent from shuffled-garbage text") {
    val train = (1L to 40L).map(i => (i, "the cat sat on the mat again"))
      .toDF("doc_id", "text")
    val score = Seq(
      (101L, "the cat sat on the mat"), // all bigrams seen
      (102L, "mat the on sat cat the"), // seen words, unseen order
      (103L, "zorp blat quux frob")     // pure OOV
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(score, train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(101L).getAs[Double]("backoff_rate") == 0.0)
    assert(out(101L).getAs[Double]("oov_rate") == 0.0)
    // fluent >> scrambled >> OOV in log-score
    val s1 = out(101L).getAs[Double]("avg_logscore")
    val s2 = out(102L).getAs[Double]("avg_logscore")
    val s3 = out(103L).getAs[Double]("avg_logscore")
    assert(s1 > s2 && s2 > s3, s"$s1 / $s2 / $s3")
    assert(out(103L).getAs[Double]("oov_rate") == 1.0)
    assert(out(102L).getAs[Double]("backoff_rate") == 1.0)
    // single-token and empty docs produce no bigram rows
    val tiny = TextAnalysis.bigramLmScore(
      Seq((201L, "hello"), (202L, "")).toDF("doc_id", "text"),
      train, "doc_id", "text")
    assert(tiny.count() == 0)
  }
}

class SpanCorruptionSpec extends SparkSpec {
  import spark.implicits._

  test("masking is deterministic, sentinels number in order, and " +
      "input+target reconstruct the document") {
    val docs = (1L to 50L).map(i =>
      (i, (1 to 30).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.spanCorruption(docs, "doc_id", "text",
      spanLen = 3, maskRate = 0.3)
    val rows = out.collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val (nM, in, tgt) = (r.getAs[Long]("n_masked"),
        r.getAs[String]("input_text"), r.getAs[String]("target_text"))
      // sentinel sets agree between input and target, numbered 0..n-1
      val sent = "<extra_id_(\\d+)>".r
      val inIds = sent.findAllMatchIn(in).map(_.group(1).toInt).toSeq
      val tgtIds = sent.findAllMatchIn(tgt).map(_.group(1).toInt).toSeq
      assert(inIds == (0 until nM.toInt), s"input sentinels $inIds")
      assert(tgtIds == (0 until nM.toInt), s"target sentinels $tgtIds")
      // splicing target spans into the input reconstructs the doc
      val spans = tgt.split("<extra_id_\\d+> ").filter(_.nonEmpty)
        .map(_.trim).iterator
      val rebuilt = sent.replaceAllIn(in, _ => spans.next())
      val orig = docs.filter(col("doc_id") === r.getLong(0))
        .select("text").as[String].head()
      assert(rebuilt == orig, s"doc ${r.getLong(0)} failed to reconstruct")
    }
    // determinism across partitionings
    val again = TextAnalysis.spanCorruption(docs.repartition(7), "doc_id",
      "text", spanLen = 3, maskRate = 0.3)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // ~30% of blocks masked corpus-wide (500 blocks, +/- sampling)
    val totals = rows.map(_.getAs[Long]("n_masked")).sum.toDouble /
      rows.map(_.getAs[Long]("n_blocks")).sum
    assert(totals > 0.2 && totals < 0.4, s"mask rate drifted: $totals")
  }
}

class PerplexityBucketSpec extends SparkSpec {
  import spark.implicits._

  // per lang: 30 docs of GRADED fluency (more "the" = lower ppl; one
  // unique token each keeps every ppl distinct) + 15 pure-garbage docs
  private def corpus = (0 until 90).map { i =>
    val lang = if (i % 2 == 0) "en" else "de"
    val text =
      if (i < 60) ("the " * (i / 2 % 30 + 2)).trim + s" unq$i"
      else s"zzq$i xvw$i qqj$i kkz$i"
    (i.toLong, text, lang)
  }.toDF("doc_id", "text", "lang")

  test("terciles split each language into balanced head/middle/tail") {
    val out = TextAnalysis.perplexityBuckets(corpus, "doc_id", "text", "lang")
    val byLang = out.groupBy("lang", "bucket").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // 45 docs/lang, interpolated terciles: each bucket gets 15 +/- 1
    Seq("en", "de").foreach { l =>
      Seq("head", "middle", "tail").foreach { b =>
        val n = byLang.getOrElse((l, b), 0L)
        assert(n >= 14 && n <= 16, s"$l/$b got $n")
      }
    }
    // every garbage doc lands in the tail (rare tokens => high ppl)
    val garbageBuckets = out.filter(col("doc_id") >= 60)
      .select("bucket").distinct().as[String].collect().toSet
    assert(garbageBuckets == Set("tail"))
  }

  test("approx path buckets identically on a small corpus") {
    val exact = TextAnalysis.perplexityBuckets(corpus, "doc_id", "text", "lang")
      .select("doc_id", "bucket")
    val approx = TextAnalysis.perplexityBuckets(corpus, "doc_id", "text",
      "lang", exact = false)
      .select("doc_id", "bucket")
    assert(exact.exceptAll(approx).isEmpty && approx.exceptAll(exact).isEmpty)
  }
}

class PrioritySampleSpec extends SparkSpec {
  import spark.implicits._

  test("selection skews to heavy weights and is partitioning-invariant") {
    // 500 light rows (w=1) vs 100 heavy rows (w=50): heavies should
    // dominate a 100-row sample
    val rows = ((1L to 500L).map(i => (i, 1L)) ++
      (1001L to 1100L).map(i => (i, 50L)))
    val df = rows.toDF("id", "w")
    val out = Sampling.prioritySample(df, "id", "w", n = 100)
    val ids = out.select("id").as[Long].collect()
    assert(ids.length == 100)
    val heavies = ids.count(_ >= 1001L)
    assert(heavies > 60, s"only $heavies/100 heavy rows selected")
    // pure function of (id, w): repartitioning changes nothing
    val ids2 = Sampling.prioritySample(df.repartition(17), "id", "w", n = 100)
      .select("id").as[Long].collect()
    assert(ids.toSeq == ids2.toSeq)
    // zero/negative weights never qualify
    val withZero = df.union(Seq((9999L, 0L), (9998L, -5L)).toDF("id", "w"))
    val ids3 = Sampling.prioritySample(withZero, "id", "w", n = 600)
      .select("id").as[Long].collect()
    assert(!ids3.contains(9999L) && !ids3.contains(9998L))
  }

  test("plans as TakeOrdered, not a global sort") {
    val df = (1L to 1000L).map(i => (i, i % 7 + 1)).toDF("id", "w")
    val plan = Sampling.prioritySample(df, "id", "w", n = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("per-group variant fills every group and pushes WindowGroupLimit") {
    val df = (1L to 900L).map(i => (i, s"g${i % 3}", i % 11 + 1))
      .toDF("id", "src", "w")
    val out = Sampling.prioritySamplePerGroup(df, "id", "src", "w", n = 20)
    val counts = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("g0" -> 20L, "g1" -> 20L, "g2" -> 20L))
    // rank filter pushed into the window as a group limit
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(500))
    // a group smaller than n returns whole, ranked
    val tiny = Sampling.prioritySamplePerGroup(
      (1L to 5L).map(i => (i, "only", 1L)).toDF("id", "src", "w"),
      "id", "src", "w", n = 20)
    assert(tiny.count() == 5)
  }
}

class StratifiedSampleSpec extends SparkSpec {
  import spark.implicits._

  test("fraction 1 keeps the stratum whole, 0 empties it, default applies") {
    val df = (1L to 400L).map(i =>
      (i, if (i % 2 == 0) "en" else if (i % 3 == 0) "de" else "zh"))
      .toDF("id", "lang")
    val out = Sampling.stratifiedHashSample(df, "id", "lang", "s",
      Seq("en" -> 1.0, "de" -> 0.0), defaultFraction = 0.5)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") == 200L)
    assert(!byLang.contains("de"))
    val zhTotal = df.filter(col("lang") === "zh").count()
    assert(byLang("zh") > 0 && byLang("zh") < zhTotal)
  }

  test("membership is deterministic and independent of partitioning") {
    val df = (1L to 300L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "lang")
    val keep1 = Sampling.stratifiedHashSample(df, "id", "lang", "s",
      Seq("a" -> 0.3, "b" -> 0.7)).select("id").as[Long].collect().toSet
    val keep2 = Sampling.stratifiedHashSample(df.repartition(13), "id", "lang", "s",
      Seq("a" -> 0.3, "b" -> 0.7)).select("id").as[Long].collect().toSet
    assert(keep1 == keep2)
    intercept[IllegalArgumentException] {
      Sampling.stratifiedHashSample(df, "id", "lang", "s", Seq("a" -> 1.5))
    }
  }

  test("the sample is a pure filter — no shuffle in the plan") {
    val df = (1L to 50L).map(i => (i, "x")).toDF("id", "lang")
    val plan = Sampling.stratifiedHashSample(df, "id", "lang", "s",
      Seq("x" -> 0.5)).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }
}

/** [[WebText.canonicalizeUrl]] — every rule on hand-checkable URLs. */
class UrlCanonSpec extends SparkSpec {
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("url").select(WebText.canonicalizeUrl(col("url")).as("c"))
      .as[String].collect().toSeq

  test("scheme/host lowercase, default port stripped, path case preserved") {
    assert(canon("HTTP://Example.COM:80/A/B") === Seq("http://example.com/A/B"))
    assert(canon("https://X.org:443/") === Seq("https://x.org/"))
    // non-default port and non-matching scheme keep the port
    assert(canon("http://x.org:8080/a") === Seq("http://x.org:8080/a"))
    assert(canon("https://x.org:80/a") === Seq("https://x.org:80/a"))
  }

  test("empty path becomes /; fragment always dropped") {
    assert(canon("http://x.org") === Seq("http://x.org/"))
    assert(canon("http://x.org#frag") === Seq("http://x.org/"))
    assert(canon("http://x.org/p#a?notquery=1") === Seq("http://x.org/p"))
  }

  test("tracking params dropped, remainder sorted, empty query elided") {
    assert(canon("http://x.org/p?b=2&utm_source=nl&a=1") ===
      Seq("http://x.org/p?a=1&b=2"))
    assert(canon("http://x.org/p?utm_campaign=x&gclid=1&fbclid=2") ===
      Seq("http://x.org/p"))
    assert(canon("http://x.org/p?&&a=1") === Seq("http://x.org/p?a=1"))
    // identical canonical forms from different surface forms
    assert(canon("http://x.org/p?a=1&b=2#f", "HTTP://X.ORG:80/p?b=2&a=1")
      .distinct.size === 1)
  }
}
