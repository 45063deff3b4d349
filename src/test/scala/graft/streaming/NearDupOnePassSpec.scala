package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.util.QueryExecutionListener

/** A near-dup micro-batch reads each index table once, and the bounded
  * driver-side fold (`spark.graft.cc.localEdgeLimit`) gives the same
  * results as the distributed path it replaces.
  */
class NearDupOnePassSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
  private val fresh = "completely different words about spark shuffles and parquet row groups here"
  private val mid = "a slow green turtle walks under the tall pine trees beside the quiet river bank"
  private val other = "entirely unrelated text about catalyst plans and shuffle partitions today"

  private def dropIndex(name: String): Unit =
    Seq("_shingles", "_buckets", "_meta", "_tombstones", "_merges").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $name$s"))

  /** File scans per table of `tables` over every action `body` runs.
    * Listener events arrive async but FIFO, so a sentinel action posted
    * last proves body's events were delivered.
    */
  private def scansDuring(tables: Seq[String])(body: => Unit): Map[String, Int] = {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    @volatile var sentinelSeen = false
    val sentinelCol = "onepass_sentinel"
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(sentinelCol)) sentinelSeen = true
        else collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s.tableIdentifier.map(_.table)
        }.flatten.filter(tables.contains)
          .foreach(t => counts.merge(t, 1, (a: Int, b: Int) => a + b))
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
      tables.map(t => t -> counts.getOrDefault(t, 0)).toMap
    } finally spark.listenerManager.unregister(l)
  }

  // within-batch pair 51–52, batch-to-index pair 10–20
  private val batch = Seq((20L, base + " again"), (21L, fresh), (51L, mid),
    (52L, mid + " extra"))

  test("one near-dup micro-batch scans each index table once (word grain)") {
    val name = "onepass_ndx"
    dropIndex(name)
    val dir = java.nio.file.Files.createTempDirectory("graft_onepass").toString
    graft.ops.Dedup.writeNearDupIndex(Seq((10L, base)).toDF("doc_id", "text"),
      "doc_id", "text", name, numBuckets = 4)
    val tables = Seq(s"${name}_shingles", s"${name}_buckets")
    val scans = scansDuring(tables) {
      Streams.applyNearDupBatch(batch.toDF("doc_id", "text"), name,
        "doc_id", "text", threshold = 0.8, maxBandFreq = None,
        acceptedPath = s"$dir/acc", id = 0L,
        clustersPath = Some(s"$dir/clusters"), assumeFresh = true)
    }
    assert(scans === tables.map(_ -> 1).toMap)
    assert(spark.read.parquet(s"$dir/acc/batch0").as[(Long, String)]
      .collect().map(_._1).toSet === Set(21L, 51L))
    assert(Streams.loadClusters(spark, s"$dir/clusters").as[(Long, Long)]
      .collect().toMap === Map(10L -> 10L, 20L -> 10L, 21L -> 21L,
        51L -> 51L, 52L -> 51L))
    dropIndex(name)
  }

  test("one near-dup micro-batch scans each index table once (token grain)") {
    val name = "onepass_tok"
    dropIndex(name)
    val dir = java.nio.file.Files.createTempDirectory("graft_onepass_tok").toString
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", name, n = 5,
      numBuckets = 4,
      merges = Some(graft.ops.Bpe.learn(corpus, "text", numMerges = 8)))
    val tables = Seq(s"${name}_shingles", s"${name}_buckets")
    val scans = scansDuring(tables) {
      Streams.applyNearDupBatch(batch.toDF("doc_id", "text"), name,
        "doc_id", "text", threshold = 0.8, maxBandFreq = None,
        acceptedPath = s"$dir/acc", id = 0L,
        clustersPath = Some(s"$dir/clusters"), assumeFresh = true)
    }
    assert(scans === tables.map(_ -> 1).toMap)
    assert(spark.read.parquet(s"$dir/acc/batch0").as[(Long, String)]
      .collect().map(_._1).toSet === Set(21L, 51L))
    dropIndex(name)
  }

  /** Stream two batches through a fresh index under `localEdgeLimit`
    * (None = the default); returns the accepted increments, the index's
    * shingle and bucket rows, and the visible clusters.
    */
  private def streamRun(name: String, localEdgeLimit: Option[Long])
      : (Seq[Set[Long]], Set[Row], Set[Row], Map[Long, Long]) = {
    implicit val sqlCtx = spark.sqlContext
    dropIndex(name)
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
    graft.ops.Dedup.writeNearDupIndex(Seq((10L, base)).toDF("doc_id", "text"),
      "doc_id", "text", name, numBuckets = 4)
    val key = "spark.graft.cc.localEdgeLimit"
    localEdgeLimit.foreach(l => spark.conf.set(key, l.toString))
    try {
      val mem = MemoryStream[(Long, String)]
      val q = Streams.nearDupSink(mem.toDF().toDF("doc_id", "text"), name,
        "doc_id", "text", threshold = 0.8, maxBandFreq = None,
        acceptedPath = s"$dir/acc", checkpoint = s"$dir/ckpt",
        clustersPath = Some(s"$dir/clusters"))
      try {
        // batch 0: corpus pair 10–20, within-batch pair 51–52 (52 drops)
        mem.addData(batch: _*); q.processAllAvailable()
        // batch 1: 40 pairs with batch 0's accepted 51 — the chain
        // 52–51–40 relabels batch 0's component {51, 52} to 40; 30 pairs
        // with the accepted 21
        mem.addData((40L, mid + " other"), (30L, fresh + " too"),
          (31L, other))
        q.processAllAvailable()
      } finally q.stop()
    } finally localEdgeLimit.foreach(_ => spark.conf.unset(key))
    spark.catalog.refreshTable(s"${name}_shingles")
    spark.catalog.refreshTable(s"${name}_buckets")
    val accepted = (0 to 1).map(b => spark.read.parquet(s"$dir/acc/batch$b")
      .select("doc_id").as[Long].collect().toSet)
    val shingles = spark.table(s"${name}_shingles").collect().toSet
    val buckets = spark.table(s"${name}_buckets").collect().toSet
    val clusters = Streams.loadClusters(spark, s"$dir/clusters")
      .as[(Long, Long)].collect().toMap
    dropIndex(name)
    (accepted, shingles, buckets, clusters)
  }

  test("the driver-side fold equals the distributed path above the local " +
      "edge limit, and a cross-batch chain relabels the earlier component") {
    val (acc, sh, bk, clusters) = streamRun("onepass_local", None)
    val (accD, shD, bkD, clustersD) = streamRun("onepass_dist", Some(0L))
    assert(acc === Seq(Set(21L, 51L), Set(31L)))
    assert(accD === acc)
    assert(shD === sh)
    assert(bkD === bk)
    assert(clustersD === clusters)
    // every discovered edge: 10–20 and 51–52 (batch 0), 51–40 and 21–30
    // (batch 1); streamed ids in no edge stay singletons
    val edges: DataFrame = Seq((10L, 20L), (51L, 52L), (51L, 40L), (21L, 30L))
      .toDF("a_id", "b_id")
    val full = graft.ops.Dedup.connectedComponents(edges).as[(Long, Long)]
      .collect().toMap
    assert(clusters === full + (31L -> 31L))
    assert(clusters(52L) === 40L, "the chain must relabel batch 0's component")
  }
}
