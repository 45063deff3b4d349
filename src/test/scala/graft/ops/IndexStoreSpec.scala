package graft.ops

import graft.SparkSpec
import graft.core.io.CrashSeam
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
  * ([[CrashSeam.onStep]]). After each crash the index is reopened
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
  * design, and the re-run is the contract that repairs it. A crashed
  * append that is never re-run must still leave every doc forgettable
  * ([[crashedAppendThenForget]]).
  */
class IndexCrashPointSpec extends SparkSpec {
  import spark.implicits._

  private final class Crash(step: String)
      extends RuntimeException(s"injected crash before: $step")

  private def withHook[T](hook: String => Unit)(body: => T): T = {
    CrashSeam.onStep = hook
    try body finally CrashSeam.onStep = _ => ()
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
    /** Vacuum the docs `ids`. */
    def forget(ids: Seq[Long]): Unit
    def vacuum(): Unit = forget(forgotten)
    def compact(): Unit
    /** None when the family has no append lane (IVF). */
    def append: Option[() => Unit]
    /** An id the append adds. */
    def addedId: Long = added.head.toLong
    def reopen(): Unit
    /** The data tables as stored, tombstoned rows included. */
    def raw(): Seq[DataFrame]
    def visible(): Seq[Seq[String]] = raw().map(df => rows(store.hide(df)))
    /** The values of `store.key` that docs `ids` are stored under. */
    def keysOf(ids: Seq[Long]): Set[String] = ids.map(_.toString).toSet
    def checkStats(): Unit = ()
  }

  /** The `store.key` values in the data tables: every stored row's, or
    * only the visible rows'.
    */
  private def keys(f: Family, visibleOnly: Boolean): Set[String] =
    f.raw().flatMap(df => (if (visibleOnly) f.store.hide(df) else df)
      .select(f.store.key).collect().map(r => String.valueOf(r.get(0)))).toSet

  private def text(i: Int) = s"doc$i alpha beta w${i * 7} gamma x$i delta y${i % 5}"
  private def textDocs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, text(i))).toDF("doc_id", "text")
  private val base = 0 until 12
  private val forgotten = Seq(2L, 7L)
  private val added = 12 until 16
  private def docsOf(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, text(i.toInt))).toDF("doc_id", "text")

  private def nearDup(name: String, tokens: Boolean): Family = new Family {
    private lazy val mergeTable = Bpe.learn(textDocs(base), "text", numMerges = 12)
    def store = Dedup.nearDupStore(spark, name)
    def build(): Unit = {
      IndexStore.dropTables(spark, Seq("_shingles", "_buckets", "_meta",
        "_tombstones", "_merges").map(name + _))
      Dedup.writeNearDupIndex(textDocs(base), "doc_id", "text", name,
        numBuckets = 2, merges = Option.when(tokens)(mergeTable))
    }
    def forget(ids: Seq[Long]): Unit =
      Dedup.vacuumNearDupIndex(spark, name, ids.toDF("doc_id")): Unit
    def compact(): Unit = Dedup.compactNearDupIndex(spark, name): Unit
    def append = Some(() =>
      Dedup.appendToNearDupIndex(Dedup.loadNearDupIndex(spark, name),
        textDocs(added), "doc_id", "text"))
    def reopen(): Unit = Dedup.loadNearDupIndex(spark, name): Unit
    def raw() = Seq("_shingles", "_buckets").map(t => spark.table(name + t))
  }

  private def fingerprint(name: String): Family = new Family {
    def store = Dedup.fpStore(spark, name)
    def build(): Unit = {
      IndexStore.dropTables(spark, Seq("_fps", "_fps_tombstones").map(name + _))
      Dedup.writeFingerprintIndex(textDocs(base), "text", name, numBuckets = 2)
    }
    def forget(ids: Seq[Long]): Unit = Dedup.vacuumFingerprintIndex(spark, name,
      docsOf(ids), "text"): Unit
    def compact(): Unit = Dedup.compactFingerprintIndex(spark, name): Unit
    // new content plus a re-submission of forgotten content, which clears
    // its tombstone through a staged swap
    def append = Some(() =>
      Dedup.dropExactDuplicatesAgainst(Dedup.loadFingerprintIndex(spark, name),
        textDocs(added).unionByName(Seq((99L, text(2))).toDF("doc_id", "text")),
        "doc_id", "text", appendAccepted = true): Unit)
    def reopen(): Unit = Dedup.loadFingerprintIndex(spark, name): Unit
    def raw() = Seq(spark.table(s"${name}_fps"))
    // a re-run may append a still-hidden fingerprint twice; the index is
    // a SET of fingerprints, so compare distinct values
    override def visible() = Seq(rows(store.visible(s"${name}_fps")).distinct)
    override def keysOf(ids: Seq[Long]) = docsOf(ids)
      .select(graft.functions.TextFunctions.fingerprint(col("text")))
      .as[String].collect().toSet
  }

  private def bm25(name: String): Family = new Family {
    def store = Search.bm25Store(spark, name)
    def build(): Unit = {
      IndexStore.dropTables(spark, Seq("_postings", "_doclens", "_meta",
        "_tombstones").map(name + _))
      Search.writeBm25Index(textDocs(base), "doc_id", "text", name, numBuckets = 2)
    }
    def forget(ids: Seq[Long]): Unit =
      Search.vacuumBm25Index(spark, name, ids.toDF("doc_id")): Unit
    def compact(): Unit = Search.compactBm25Index(spark, name): Unit
    def append = Some(() => Search.appendBm25Index(textDocs(added), "doc_id",
      "text", Search.loadBm25Index(spark, name)))
    def reopen(): Unit = Search.loadBm25Index(spark, name): Unit
    def raw() = Seq("_postings", "_doclens").map(t => spark.table(name + t))
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
    def raw() = Seq(spark.read.parquet(dataDir))
  }

  private def pq(): Family = new PathFamily("graft_crash_pq", d =>
      Pq.writePqIndex(vectors(0 until 40), d, m = 2, k = 4, cells = 2,
        trainSampleMod = 1)) {
    def store = Pq.pqStore(spark, dir)
    def dataDir = s"$dir/codes"
    def forget(ids: Seq[Long]): Unit =
      Pq.vacuumPqIndex(spark, dir, ids.toDF("vec_id")): Unit
    def compact(): Unit = Pq.compactPqIndex(spark, dir): Unit
    def append = Some(() => Pq.appendPqIndex(spark, dir, vectors(40 until 44)))
    override def addedId = 40L
  }

  private def ivf(): Family = new PathFamily("graft_crash_ivf", d =>
      Similarity.writeClusteredIndex(vectors(0 until 24)
        .withColumn("label", (col("vec_id") % 3).cast("int")), d)) {
    def store = Similarity.clusteredStore(spark, dir)
    def dataDir = dir
    def forget(ids: Seq[Long]): Unit = Similarity.vacuumClusteredIndex(spark,
      dir, ids.toDF("vec_id")): Unit
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

  /** Crash the append before each of its steps and NEVER re-run it, then
    * forget one base doc and one added doc and compact: whatever partial
    * rows the crash left (BM25's postings-only orphans, one near-dup
    * table ahead of the other) must be forgotten and scrubbed like any
    * others. Checks after the vacuum that the forgotten docs are
    * invisible, and after the compact that no tombstone and no stored
    * row of them is left and that BM25's meta is an exact recount.
    */
  private def crashedAppendThenForget(f: Family, append: () => Unit,
                                      steps: Int): Unit = {
    val gone = Seq(3L, f.addedId)
    val goneKeys = f.keysOf(gone)
    for (k <- 0 until steps) {
      f.build()
      f.vacuum()
      crashAt(k)(append())
      f.reopen()
      f.forget(gone)
      f.reopen()
      assert((keys(f, visibleOnly = true) & goneKeys).isEmpty,
        s"append crashed at step $k, then vacuum: a forgotten doc is visible")
      f.compact()
      f.reopen()
      assert(f.store.tombstoneRows.isEmpty,
        s"append crashed at step $k, then compact: tombstones left")
      assert((keys(f, visibleOnly = false) & goneKeys).isEmpty,
        s"append crashed at step $k, then compact: a forgotten doc is stored")
      f.checkStats()
    }
  }

  private def allOps(f: Family): Map[String, Int] = {
    val steps = Map(
      "vacuum" -> everyStep(f, "vacuum", f.build(), f.vacuum()),
      "compact" -> everyStep(f, "compact", { f.build(); f.vacuum() }, f.compact())
    ) ++ f.append.map(a =>
      // appends run with forgets pending: the clash probe and BM25's
      // meta roll-back rule are then on the path
      "append" -> everyStep(f, "append", { f.build(); f.vacuum() }, a()))
    f.append.foreach(crashedAppendThenForget(f, _, steps("append")))
    steps
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
