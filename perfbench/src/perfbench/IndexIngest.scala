package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, PerfbenchBridge, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.ops.{Dedup, Search}
import graft.streaming.Streams

/** The persisted-index lifecycle. Set-up builds a near-dup and a BM25 index
  * over a base corpus much larger than one batch. Each round then drains a
  * staged backlog (one file per trigger) through the near-dup sink and the
  * BM25 ingest sink, forgets a fixed fraction of the index from both
  * indexes, serves top-k queries one at a time over the tombstone backlog,
  * and compacts. A step is one near-dup micro-batch.
  *
  * Shapes taken from the repo's test data and queries: documents of 10–100
  * words and a 5% near-copy share, each near-copy one word longer or
  * shorter at the end (the sf0.1 `documents` table); a base the size of
  * that table; a 5% forget set compacted away after each forget (q140).
  * `perfbench/shape.py` measures the test data. Not taken from it: its
  * 31-word vocabulary, with which every query term would match nearly
  * every document; words here follow Zipf(0.9) over 6000 words, the
  * usual shape of prose. The batch size and the two batches per round are
  * set by the time budget of a run.
  */
final class IndexIngest extends Workload {
  val baseDocs = 5000          // rows of the sf0.1 documents table
  val lo = 10                  // words per document, as in that table
  val hi = 100
  val batches = 2              // backlog files per round, one per trigger
  val batchDocs = 125          // index-to-batch size ratio 40
  val nearShare = 0.05         // near-copies of an indexed document; the rest fresh
  val vacuumFrac = 0.05        // of the base and of the round's accepted ids, per round
  val queries = 3
  val checkedQueries = 1
  val buckets = 4
  val nd = "nd"
  val bm = "bm"

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  private var vocab: Array[String] = Array.empty
  private var base: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var baseOrder: Array[Int] = Array.empty
  private var bmIdx: Search.Bm25Index = _

  // lifecycle state carried across rounds
  private val streamed = collection.mutable.ArrayBuffer.empty[(Long, String)]
  private val accepted = collection.mutable.ArrayBuffer.empty[(Long, String)]
  private val vacuumed = collection.mutable.LinkedHashSet.empty[Long]
  private var nextId = 10000000L

  def prepare(ctx: Ctx): Long = {
    val g = new Gen(ctx.seed)
    vocab = g.vocabulary(6000)
    base = Corpus.generate(g, vocab, baseDocs, 0, 2, 0.0, 0, firstId = 1L, dim = 1,
      lo = lo, hi = hi).docs.map { case (id, t, _) => (id, t) }.toIndexedSeq
    baseOrder = g.permutation(base.size)
    ctx.spark.createDataFrame(base.map { case (i, t) => Row(i, t) }.asJava, schema)
      .coalesce(1).write.parquet(ctx.path("in/base"))
    Files.parquetBytes(ctx.path("in/base"))
  }

  override def open(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val t = System.nanoTime()
    val corpus = spark.read.parquet(ctx.path("in/base"))
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", nd, numBuckets = buckets)
    bmIdx = Search.writeBm25Index(corpus, "doc_id", "text", bm, numBuckets = buckets)
    Map("ops.index.build_s" -> (System.nanoTime() - t) / 1e9)
  }

  /** Stage round `r`'s backlog: fresh documents and near-copies of
    * documents still indexed (the base or earlier fresh documents, this
    * round's earlier files included).
    */
  private def stage(ctx: Ctx, r: Int, dir: String, files: Int,
                    docs: Int): Seq[(Long, String, Boolean)] = {
    val g = new Gen(ctx.seed * 7919 + r)
    val words = new g.Zipf(vocab.length, 0.9)
    // a copy of a vacuumed document is rightly accepted again
    val indexed = (base ++ accepted).filterNot(d => vacuumed.contains(d._1)).toBuffer
    (0 until files).flatMap { b =>
      val rows = (0 until docs).map { _ =>
        nextId += 1
        if (g.unit() >= nearShare) {
          val t = g.text(vocab, words, lo, hi)
          indexed += ((nextId, t))
          (nextId, t, true)
        } else (nextId, g.nearCopy(indexed(g.uniform(indexed.size))._2, vocab), false)
      }
      val tmp = s"$dir/tmp$b"
      ctx.spark.createDataFrame(rows.map { case (i, t, _) => Row(i, t) }.asJava, schema)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(f"$dir/backlog/batch-$b%03d.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + b * 1000L)
      Files.delete(tmp)
      rows
    }
  }

  private def ids(ctx: Ctx, xs: Iterable[Long]): DataFrame = {
    import ctx.spark.implicits._
    xs.toSeq.toDF("doc_id")
  }

  private def indexTables(ctx: Ctx): Seq[String] =
    ctx.spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(nd + "_") || n.startsWith(bm + "_")).toSeq

  /** The sinks append through the streams' own sessions: re-list the index
    * tables in this one before reading or maintaining them.
    */
  private def refresh(ctx: Ctx): Unit = indexTables(ctx).foreach(ctx.spark.catalog.refreshTable)

  def round(ctx: Ctx, r: Int): Round = {
    val spark = ctx.spark
    val dir = ctx.path(s"r$r")
    // the warm-up round (0) streams one small batch through both sinks and
    // leaves the index unmaintained; the per-run budget has no room for more
    val warmUp = r == 0
    val files = if (warmUp) 1 else batches
    val backlog = stage(ctx, r, dir, files, if (warmUp) batchDocs / 6 else batchDocs)
    val qg = new Gen(ctx.seed * 104729 + r)
    val queryTexts = (0 until (if (warmUp) 0 else queries)).map { _ =>
      val w = base(qg.uniform(base.size))._2.split(' ')
      (0 until 3).map(_ => w(qg.uniform(w.length))).mkString(" ")
    }
    val freshIds = backlog.filter(_._3).map(_._1)
    val slice = (baseDocs * vacuumFrac).toInt
    val forget = if (warmUp) Nil
      else baseOrder.slice((r - 1) * slice, r * slice).map(base(_)._1).toSeq ++
        freshIds.take((freshIds.size * vacuumFrac).toInt)
    def stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/backlog")
    def drain(name: String)(start: => StreamingQuery): (Double, String) = ctx.span(name) {
      val t = System.nanoTime()
      val q = start
      try q.processAllAvailable() finally q.stop()
      ((System.nanoTime() - t) / 1e9, q.id.toString)
    }

    def seconds[T](body: => T): (T, Double) = {
      val t = System.nanoTime()
      val res = body
      (res, (System.nanoTime() - t) / 1e9)
    }
    val ((ndSecs, ndQuery, bmSecs, maintSecs, tombstoned, results), wall) = ctx.timed {
      val (ndSecs, ndQuery) = drain("streaming.neardup_drain")(Streams.nearDupSink(stream, nd,
        "doc_id", "text", 0.7, None, s"$dir/accepted", s"$dir/ckpt_nd",
        clustersPath = Some(ctx.path("clusters"))))
      val (bmSecs, _) = drain("streaming.bm25_drain")(Streams.bm25IngestSink(stream, bm,
        "doc_id", "text", s"$dir/ingested", s"$dir/ckpt_bm"))
      val (tombstoned, vacuumSecs) = seconds {
        refresh(ctx)
        if (warmUp) 0L
        else ctx.span("ops.index.vacuum") {
          Dedup.vacuumNearDupIndex(spark, nd, ids(ctx, forget)) +
            Search.vacuumBm25Index(spark, bm, ids(ctx, forget))
        }
      }
      val results = queryTexts.zipWithIndex.map { case (text, i) =>
        import spark.implicits._
        val (rows, secs) = seconds(ctx.span("ops.index.query")(Search.bm25TopKIndexed(spark,
          bmIdx, Seq((i.toLong, text)).toDF("query_id", "query_text"), "query_id",
          "query_text", k = 10).collect()))
        (secs * 1e3, rows)
      }
      val (_, compactSecs) = seconds(if (!warmUp) ctx.span("ops.index.compact") {
        Dedup.compactNearDupIndex(spark, nd)
        Search.compactBm25Index(spark, bm)
      })
      (ndSecs, ndQuery, bmSecs, vacuumSecs + compactSecs, tombstoned, results)
    }

    PerfbenchBridge.drainListeners(spark.sparkContext)
    val steps = ctx.batches.asScala.toSeq.filter(_.queryId == ndQuery).map(_.triggerMs / 1e3)
    val landed = spark.read.parquet(s"$dir/accepted/batch*").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    streamed ++= backlog.map(b => (b._1, b._2))
    accepted ++= backlog.filter(_._3).map(b => (b._1, b._2))
    vacuumed ++= forget
    val live = liveRows(ctx)
    val checks = verify(ctx, queryTexts, results.map(_._2), landed, freshIds.toSet, live)
    val sizes = indexTables(ctx).flatMap(t => Files.dataFileSizes(ctx.path(s"warehouse/$t")))
    Files.delete(dir)
    Round(wall, 2L * backlog.size, ndSecs + bmSecs, steps,
      attempted = 2 * files + (if (warmUp) 0 else 2) + queryTexts.size, checks,
      extra = Map("query_ms" -> results.map(_._1), "maint_s" -> Seq(maintSecs),
        "index_files" -> Seq(sizes.size.toDouble),
        "index_bytes_per_live_row" -> Seq(sizes.sum.toDouble / math.max(live._1 + live._2, 1L)),
        "tombstone_rows" -> Seq(tombstoned.toDouble)))
  }

  /** Visible documents of the near-dup and the BM25 index (after a compact,
    * so no tombstones remain).
    */
  private def liveRows(ctx: Ctx): (Long, Long) = {
    refresh(ctx)
    (ctx.spark.table(s"${nd}_shingles").select("doc_id").distinct().count(),
      ctx.spark.table(s"${bm}_meta").head().getAs[Long]("n_docs"))
  }

  private def verify(ctx: Ctx, queryTexts: Seq[String], results: Seq[Array[Row]],
                     landed: Set[Long], fresh: Set[Long], live: (Long, Long)): Seq[Check] = {
    val spark = ctx.spark
    import spark.implicits._
    val ndWant = baseDocs + accepted.size - vacuumed.size
    val bmWant = baseDocs + streamed.size - vacuumed.size
    val leaked = results.flatMap(_.map(_.getAs[Long]("doc_id"))).count(vacuumed.contains)
    val visible = (base ++ streamed).filterNot(d => vacuumed.contains(d._1))
      .toDF("doc_id", "text")
    val sampled = queryTexts.zipWithIndex.take(checkedQueries)
    val scanned = Search.bm25TopK(visible,
      sampled.map { case (text, i) => (i.toLong, text) }.toDF("query_id", "query_text"),
      "doc_id", "text", "query_id", "query_text", k = 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
    val mismatched = sampled.count { case (_, i) =>
      scanned.getOrElse(i.toLong, Array.empty[Row]).toSet != results(i).toSet
    }
    Seq(
      Check("index.accepted", landed == fresh,
        s"accepted ${landed.size}, planted fresh ${fresh.size}, " +
          s"differing ${(landed -- fresh).size + (fresh -- landed).size}"),
      Check("index.neardup_live", live._1 == ndWant, s"live ${live._1}, want $ndWant"),
      Check("index.bm25_live", live._2 == bmWant, s"live ${live._2}, want $bmWant"),
      Check("index.vacuumed_hidden", leaked == 0, s"$leaked vacuumed ids in results"),
      Check("index.topk_equals_scan", mismatched == 0,
        s"$mismatched of ${sampled.size} sampled queries differ from bm25TopK"))
  }

  override def layerMetrics(ctx: Ctx, t: Tracer, rounds: Seq[Round]): Map[String, Double] = {
    val n = math.max(rounds.size, 1).toDouble
    val compactSpans = t.spans.filter(_.name == "ops.index.compact").map(_.id).toSet
    val execSpan = t.execSpan
    def med(k: String) = Stats.median(rounds.flatMap(_.extra.getOrElse(k, Nil)))
    Map(
      "ops.index.vacuum_s" -> Layers.spanSeconds(t, "ops.index.vacuum") / n,
      "ops.index.compact_s" -> Layers.spanSeconds(t, "ops.index.compact") / n,
      "ops.index.compact_bytes_rewritten" -> t.writes.asScala
        .filter(w => execSpan.get(t.execOf(w.queryId)).exists(compactSpans.contains))
        .map(_.bytes).sum / n,
      "ops.index.files" -> med("index_files"),
      "ops.index.bytes_per_live_row" -> med("index_bytes_per_live_row"),
      "ops.index.tombstone_rows" -> med("tombstone_rows"))
  }
}
