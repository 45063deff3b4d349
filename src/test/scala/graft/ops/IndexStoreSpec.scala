package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [[IndexStore]] across sessions: a session whose cached table listing
  * predates another session's append must still vacuum and compact the
  * appended docs (the stale-listing compact used to rewrite the index
  * without them).
  */
class IndexStoreSpec extends SparkSpec {

  private def docs(s: SparkSession, ids: Range): DataFrame =
    s.createDataFrame(ids.map(i =>
        (i.toLong, s"doc$i alpha beta w${i * 7} gamma x$i delta y${i % 5}")))
      .toDF("doc_id", "text")

  private def ids(is: Int*): DataFrame = {
    import spark.implicits._
    is.map(_.toLong).toDF("doc_id")
  }

  test("near-dup: a stale-session compact keeps the other session's appends") {
    val name = "ssnd"
    IndexStore.dropTables(spark,
      Seq("_shingles", "_buckets", "_meta", "_tombstones").map(name + _))
    val idx = Dedup.writeNearDupIndex(docs(spark, 0 until 40), "doc_id",
      "text", name, numBuckets = 4)
    // this session lists the tables before the other one appends
    assert(spark.table(idx.shinglesTable).select("doc_id").distinct().count() == 40)
    Dedup.appendToNearDupIndex(idx, docs(spark.newSession(), 40 until 60),
      "doc_id", "text")
    assert(Dedup.vacuumNearDupIndex(spark, name, ids(3)) == 1L)
    assert(Dedup.vacuumNearDupIndex(spark, name, ids(45)) == 1L,
      "an id appended by the other session was invisible to the vacuum")
    assert(Dedup.compactNearDupIndex(spark, name) == 2L)
    Seq(idx.shinglesTable, idx.bucketsTable).foreach(t =>
      assert(spark.table(t).select("doc_id").distinct().count() == 58, t))
  }

  test("BM25: a stale-session compact keeps the other session's appends " +
      "and recounts them into the meta") {
    val name = "ssbm"
    IndexStore.dropTables(spark,
      Seq("_postings", "_doclens", "_meta", "_tombstones").map(name + _))
    val idx = Search.writeBm25Index(docs(spark, 0 until 40), "doc_id", "text",
      name, numBuckets = 4)
    assert(spark.table(idx.metaTable).head().getAs[Long]("n_docs") == 40L)
    Search.appendBm25Index(docs(spark.newSession(), 40 until 60), "doc_id",
      "text", idx)
    assert(Search.vacuumBm25Index(spark, name, ids(3)) == 1L)
    assert(Search.vacuumBm25Index(spark, name, ids(45)) == 1L,
      "an id appended by the other session was invisible to the vacuum")
    assert(Search.compactBm25Index(spark, name) == 2L)
    assert(spark.table(idx.doclensTable).count() == 58L)
    assert(spark.table(idx.postingsTable).select("doc_id").distinct().count() == 58L)
    assert(spark.table(idx.metaTable).head().getAs[Long]("n_docs") == 58L)
  }

  test("fingerprint: a stale-session compact keeps the other session's appends") {
    val name = "ssfp"
    IndexStore.dropTables(spark, Seq("_fps", "_fps_tombstones").map(name + _))
    val idx = Dedup.writeFingerprintIndex(docs(spark, 0 until 40), "text", name,
      numBuckets = 4)
    assert(spark.table(idx.fpsTable).count() == 40L)
    val other = spark.newSession()
    assert(Dedup.dropExactDuplicatesAgainst(idx, docs(other, 40 until 60),
      "doc_id", "text", appendAccepted = true).count() == 20L)
    assert(Dedup.vacuumFingerprintIndex(spark, name,
      docs(spark, 3 until 4), "text") == 1L)
    assert(Dedup.vacuumFingerprintIndex(spark, name,
      docs(spark, 45 until 46), "text") == 1L,
      "content appended by the other session was invisible to the vacuum")
    assert(Dedup.compactFingerprintIndex(spark, name) == 2L)
    assert(spark.table(idx.fpsTable).count() == 58L)
  }
}

/** Every persisted-index family driven through append, vacuum and
  * compact with a crash injected before EACH catalog or file mutation
  * ([[IndexStore.onStep]]). After each crash the index is reopened
  * (which heals a half-done staged swap) and checked:
  *
  *  - vacuum and compact: the visible rows equal the state before the
  *    op or after it (both taken from an uninterrupted run), and BM25's
  *    visible stats (`meta − Σ tombstoned dl`) equal an exact recount;
  *  - every op is then re-run — appends are at-least-once, vacuum and
  *    compact idempotent — and must land on exactly the uninterrupted
  *    post-op state, with BM25's meta an exact recount and, after a
  *    compact, no tombstones left.
  *
  * Appends are not checked between the crash and the re-run: a crash
  * between two table appends leaves one table ahead of the other by
  * design, and the re-run is the contract that repairs it.
  */
class IndexCrashPointSpec extends SparkSpec {
  import spark.implicits._

  private final class Crash(step: String)
      extends RuntimeException(s"injected crash before: $step")

  private def withHook[T](hook: String => Unit)(body: => T): T = {
    IndexStore.onStep = hook
    try body finally IndexStore.onStep = _ => ()
  }

  private def countSteps(body: => Unit): Int = {
    var n = 0
    withHook(_ => n += 1)(body)
    n
  }

  private def crashAt(k: Int)(body: => Unit): Unit = {
    var n = 0
    withHook { step => if (n == k) throw new Crash(step); n += 1 } {
      intercept[Crash](body)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** One index family: its fixture and the three ops. */
  private trait Family {
    def store: IndexStore
    def build(): Unit
    def vacuum(): Unit
    def compact(): Unit
    /** None when the family has no append lane (IVF). */
    def append: Option[() => Unit]
    def reopen(): Unit
    def visible(): Seq[Seq[String]]
    def checkStats(): Unit = ()
  }

  private def text(i: Int) = s"doc$i alpha beta w${i * 7} gamma x$i delta y${i % 5}"
  private def textDocs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, text(i))).toDF("doc_id", "text")
  private val base = 0 until 12
  private val forgotten = Seq(2L, 7L)
  private val added = 12 until 16
  private def forgetIds: DataFrame = forgotten.toDF("doc_id")

  private def nearDup(name: String, tokens: Boolean): Family = new Family {
    private lazy val mergeTable = Bpe.learn(textDocs(base), "text", numMerges = 12)
    def store = Dedup.nearDupStore(spark, name)
    def build(): Unit = {
      IndexStore.dropTables(spark, Seq("_shingles", "_buckets", "_meta",
        "_tombstones", "_merges").map(name + _))
      if (tokens) Dedup.writeTokenNearDupIndex(textDocs(base), "doc_id", "text",
        mergeTable, name, n = 3, numBuckets = 2)
      else Dedup.writeNearDupIndex(textDocs(base), "doc_id", "text", name,
        numBuckets = 2)
    }
    def vacuum(): Unit = Dedup.vacuumNearDupIndex(spark, name, forgetIds): Unit
    def compact(): Unit = Dedup.compactNearDupIndex(spark, name): Unit
    def append = Some(() =>
      if (tokens) {
        val (idx, merges) = Dedup.loadTokenNearDupIndex(spark, name)
        Dedup.appendToTokenNearDupIndex(idx, textDocs(added), "doc_id", "text",
          merges)
      } else Dedup.appendToNearDupIndex(Dedup.loadNearDupIndex(spark, name),
        textDocs(added), "doc_id", "text"))
    def reopen(): Unit = Dedup.loadNearDupIndex(spark, name): Unit
    def visible() = Seq("_shingles", "_buckets").map(t => rows(store.visible(name + t)))
  }

  private def fingerprint(name: String): Family = new Family {
    def store = Dedup.fpStore(spark, name)
    def build(): Unit = {
      IndexStore.dropTables(spark, Seq("_fps", "_fps_tombstones").map(name + _))
      Dedup.writeFingerprintIndex(textDocs(base), "text", name, numBuckets = 2)
    }
    def vacuum(): Unit = Dedup.vacuumFingerprintIndex(spark, name,
      textDocs(base).filter(col("doc_id").isin(forgotten: _*)), "text"): Unit
    def compact(): Unit = Dedup.compactFingerprintIndex(spark, name): Unit
    // new content plus a re-submission of forgotten content, which clears
    // its tombstone through a staged swap
    def append = Some(() =>
      Dedup.dropExactDuplicatesAgainst(Dedup.loadFingerprintIndex(spark, name),
        textDocs(added).unionByName(Seq((99L, text(2))).toDF("doc_id", "text")),
        "doc_id", "text", appendAccepted = true): Unit)
    def reopen(): Unit = Dedup.loadFingerprintIndex(spark, name): Unit
    // a re-run may append a still-hidden fingerprint twice; the index is
    // a SET of fingerprints, so compare distinct values
    def visible() = Seq(rows(store.visible(s"${name}_fps")).distinct)
  }

  private def bm25(name: String): Family = new Family {
    def store = Search.bm25Store(spark, name)
    def build(): Unit = {
      IndexStore.dropTables(spark, Seq("_postings", "_doclens", "_meta",
        "_tombstones").map(name + _))
      Search.writeBm25Index(textDocs(base), "doc_id", "text", name, numBuckets = 2)
    }
    def vacuum(): Unit = Search.vacuumBm25Index(spark, name, forgetIds): Unit
    def compact(): Unit = Search.compactBm25Index(spark, name): Unit
    def append = Some(() => Search.appendBm25Index(textDocs(added), "doc_id",
      "text", Search.loadBm25Index(spark, name)))
    def reopen(): Unit = Search.loadBm25Index(spark, name): Unit
    def visible() = Seq("_postings", "_doclens").map(t => rows(store.visible(name + t)))
    override def checkStats(): Unit = {
      def totals(df: DataFrame): (Long, Long) =
        df.agg(count(col("dl")), coalesce(sum("dl"), lit(0L))).as[(Long, Long)].head()
      val (tn, tsum) = store.tombstoneRows.map(totals).getOrElse((0L, 0L))
      val meta = spark.table(s"${name}_meta").head()
      assert((meta.getAs[Long]("n_docs") - tn, meta.getAs[Long]("sum_dl") - tsum) ==
        totals(store.visible(s"${name}_doclens")), "BM25 stats drifted from a recount")
    }
  }

  private def vectors(ids: Range): DataFrame =
    ids.map(i => (i.toLong, Seq.tabulate(8)(j =>
        (math.sin(i * 0.7 + j) * 3).toFloat)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

  /** A path-grain family: `write` builds the index once under a pristine
    * dir, and every run starts from a fresh copy of it at `dir`.
    */
  private abstract class PathFamily(prefix: String, write: String => Unit)
      extends Family {
    private val root = java.nio.file.Files.createTempDirectory(prefix)
    private val pristine = root.resolve("pristine")
    write(pristine.toString)
    val dir: String = root.resolve("live").toString
    def dataDir: String
    def build(): Unit = {
      import org.apache.commons.io.FileUtils
      FileUtils.deleteDirectory(new java.io.File(dir))
      FileUtils.deleteDirectory(new java.io.File(s"${dir}_tombstones"))
      FileUtils.copyDirectory(pristine.toFile, new java.io.File(dir))
    }
    def reopen(): Unit = ()
    def visible() = Seq(rows(store.hide(spark.read.parquet(dataDir))))
  }

  private def pq(): Family = new PathFamily("graft_crash_pq", d =>
      Pq.writePqIndex(vectors(0 until 40), d, m = 2, k = 4, cells = 2,
        trainSampleMod = 1)) {
    def store = Pq.pqStore(spark, dir)
    def dataDir = s"$dir/codes"
    def vacuum(): Unit = Pq.vacuumPqIndex(spark, dir, forgotten.toDF("vec_id")): Unit
    def compact(): Unit = Pq.compactPqIndex(spark, dir): Unit
    def append = Some(() => Pq.appendPqIndex(spark, dir, vectors(40 until 44)))
  }

  private def ivf(): Family = new PathFamily("graft_crash_ivf", d =>
      Similarity.writeClusteredIndex(vectors(0 until 24)
        .withColumn("label", (col("vec_id") % 3).cast("int")), d)) {
    def store = Similarity.clusteredStore(spark, dir)
    def dataDir = dir
    def vacuum(): Unit = Similarity.vacuumClusteredIndex(spark, dir,
      forgotten.toDF("vec_id")): Unit
    def compact(): Unit = Similarity.compactClusteredIndex(spark, dir): Unit
    def append: Option[() => Unit] = None
  }

  /** Crash `op` before each of its steps; returns the step count. */
  private def everyStep(f: Family, op: String, setup: => Unit,
                        run: => Unit): Int = {
    setup
    val pre = f.visible()
    val steps = countSteps(run)
    val post = f.visible()
    f.checkStats()
    // compact changes storage, never the visible rows
    assert((pre == post) == (op == "compact"), s"$op: pre $pre, post $post")
    for (k <- 0 until steps) {
      setup
      crashAt(k)(run)
      f.reopen()
      if (op != "append") {
        val v = f.visible()
        assert(v == pre || v == post, s"$op crashed at step $k: visible rows " +
          "match neither the pre-op nor the post-op state")
        f.checkStats()
      }
      run
      f.reopen()
      assert(f.visible() == post, s"$op crashed at step $k, then re-run: " +
        "visible rows differ from an uninterrupted run")
      f.checkStats()
      if (op == "compact") assert(f.store.tombstoneRows.isEmpty,
        s"compact crashed at step $k, then re-run: tombstones left")
    }
    steps
  }

  private def allOps(f: Family): Map[String, Int] = {
    Map(
      "vacuum" -> everyStep(f, "vacuum", f.build(), f.vacuum()),
      "compact" -> everyStep(f, "compact", { f.build(); f.vacuum() }, f.compact())
    ) ++ f.append.map(a =>
      // appends run with forgets pending: the clash probe and BM25's
      // meta roll-back rule are then on the path
      "append" -> everyStep(f, "append", { f.build(); f.vacuum() }, a()))
  }

  test("word near-dup index survives a crash at every step") {
    val steps = allOps(nearDup("cpnd", tokens = false))
    assert(steps == Map("vacuum" -> 1, "compact" -> 7, "append" -> 2))
  }

  test("token near-dup index survives a crash at every step") {
    val steps = allOps(nearDup("cptk", tokens = true))
    assert(steps == Map("vacuum" -> 1, "compact" -> 7, "append" -> 2))
  }

  test("fingerprint index survives a crash at every step") {
    val steps = allOps(fingerprint("cpfp"))
    assert(steps == Map("vacuum" -> 1, "compact" -> 4, "append" -> 4))
  }

  test("BM25 index survives a crash at every step; meta stays an exact recount") {
    val steps = allOps(bm25("cpbm"))
    assert(steps == Map("vacuum" -> 1, "compact" -> 10, "append" -> 5))
  }

  test("PQ index survives a crash at every step") {
    val steps = allOps(pq())
    assert(steps == Map("vacuum" -> 1, "compact" -> 2, "append" -> 1))
  }

  test("IVF-clustered index survives a crash at every step") {
    val steps = allOps(ivf())
    assert(steps == Map("vacuum" -> 1, "compact" -> 2))
  }
}
