package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The TOKEN-GRAIN persisted near-dup index: ingest semantics at BPE
  * piece grain, the stored merge table as part of the index contract,
  * and the word-grain GDPR lanes applying verbatim.
  */
class TokenNearDupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near " +
    "the old stone bridge today while birds watch from above the water"
  private val fresh = "completely different words about spark shuffles " +
    "and parquet row groups inside the executor memory model here"

  private def dropIndex(name: String): Unit =
    Seq("_shingles", "_buckets", "_meta", "_tombstones", "_merges",
      "_shingles_vac", "_buckets_vac").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $name$s"))

  test("token ingest: within-delta collapse keep-min, corpus drop, " +
      "grown-index replay drops everything, merges pinned to the index") {
    dropIndex("tndx1")
    val corpus = Seq((10L, base), (11L, fresh)).toDF("doc_id", "text")
    val merges = Bpe.learn(corpus, "text", numMerges = 10)
    val idx = Dedup.writeNearDupIndex(corpus, "doc_id", "text", "tndx1",
      n = 5, numBuckets = 4, merges = Some(merges))
    try {
      // 20/21 near-dup each other within the delta (keep-min → 20) and
      // nothing in the corpus; 22 near-dups the CORPUS (base) →
      // dropped; 23 is novel
      val novel = "seven silver llamas carry heavy ancient scrolls " +
        "across the windy mountain pass before sunrise every winter"
      val delta = Seq(
        (20L, novel + " with one extra tail"),
        (21L, novel + " with one extra tail indeed"),
        (22L, base + " almost"),
        (23L, "entirely unrelated text about catalyst optimizer rules " +
          "and broadcast thresholds and nothing else whatsoever at all"))
        .toDF("doc_id", "text")
      val accepted = Dedup.dropNearDuplicatesAgainst(idx, delta, "doc_id",
        "text", threshold = 0.5, maxBandFreq = None, appendAccepted = true)
      assert(accepted.select("doc_id").as[Long].collect().toSet
        === Set(20L, 23L))
      // replaying the SAME delta against the grown index drops all of it
      val replay = Dedup.dropNearDuplicatesAgainst(idx, delta, "doc_id",
        "text", threshold = 0.5, maxBandFreq = None, appendAccepted = false)
      assert(replay.isEmpty,
        "a replayed delta must be fully dropped by the grown token index")
      // excludeSelfIds: the replay-idempotence switch reproduces the
      // first run's accepted set even though the index holds 20/23
      val replaySelf = Dedup.dropNearDuplicatesAgainst(idx, delta,
        "doc_id", "text", threshold = 0.5,
        maxBandFreq = None, appendAccepted = false, excludeSelfIds = true)
      assert(replaySelf.select("doc_id").as[Long].collect().toSet
        === Set(20L, 23L))
      // the stored merges ARE the index's piece space
      val stored = Dedup.loadNearDupIndex(spark, "tndx1").merges.get
      assert(stored.length === 10)
    } finally dropIndex("tndx1")
  }

  test("word-grain GDPR lanes apply verbatim: vacuum re-accepts a " +
      "forgotten doc's near-dup, compact scrubs physically") {
    dropIndex("tndx2")
    val corpus = Seq((10L, base), (11L, fresh)).toDF("doc_id", "text")
    val merges = Bpe.learn(corpus, "text", numMerges = 10)
    val idx = Dedup.writeNearDupIndex(corpus, "doc_id", "text", "tndx2",
      n = 5, numBuckets = 4, merges = Some(merges))
    try {
      val nearBase = Seq((30L, base + " almost")).toDF("doc_id", "text")
      def ingest() = Dedup.dropNearDuplicatesAgainst(idx, nearBase,
        "doc_id", "text", threshold = 0.5, maxBandFreq = None,
        appendAccepted = false)
      assert(ingest().isEmpty, "the fixture must near-dup the corpus")
      // forget doc 10: its near-dup must be ACCEPTED again
      assert(Dedup.vacuumNearDupIndex(spark, "tndx2",
        Seq(10L).toDF("doc_id")) === 1L)
      assert(ingest().select("doc_id").as[Long].collect().toSet
        === Set(30L))
      // compact scrubs the shingle rows physically; ingest unchanged
      assert(Dedup.compactNearDupIndex(spark, "tndx2") === 1L)
      assert(spark.table("tndx2_shingles")
        .filter(col("doc_id") === 10L).isEmpty)
      assert(ingest().select("doc_id").as[Long].collect().toSet
        === Set(30L))
    } finally dropIndex("tndx2")
  }

  test("appending under RE-LEARNED merges fails loudly; the rebuild path " +
      "re-encodes the corpus under the new table") {
    dropIndex("tndx3")
    val corpus = Seq((10L, base), (11L, fresh)).toDF("doc_id", "text")
    val v1 = Bpe.learn(corpus, "text", numMerges = 10)
    val idx = Dedup.writeNearDupIndex(corpus, "doc_id", "text", "tndx3",
      n = 5, numBuckets = 4, merges = Some(v1))
    try {
      val delta = Seq((20L, "novel words that appear in no other " +
        "document of this tiny spec corpus at all")).toDF("doc_id", "text")
      // a re-learned table (different corpus slice + budget) is a
      // DIFFERENT piece space: the append must refuse, not silently
      // shingle into a split vocabulary
      val v2 = Bpe.mergesOf(Bpe.learn(
        corpus.unionByName(delta), "text", numMerges = 18))
      val err = intercept[IllegalArgumentException] {
        Dedup.appendToNearDupIndex(
          idx.copy(merges = Some(v2.map(_.toSeq).toSeq)), delta, "doc_id",
          "text")
      }
      assert(err.getMessage.contains("merge-table mismatch") &&
        err.getMessage.contains("writeNearDupIndex"))
      // the stored table verbatim still appends (the supported path —
      // exactly what loadNearDupIndex puts on the handle)
      val stored = Bpe.mergesOf(spark.table("tndx3_merges"))
      Dedup.appendToNearDupIndex(
        idx.copy(merges = Some(stored.map(_.toSeq).toSeq)), delta, "doc_id",
        "text")
      spark.catalog.refreshTable("tndx3_shingles")
      assert(spark.table("tndx3_shingles")
        .filter(col("doc_id") === 20L).count() > 0)
      // and the rebuild path accepts the new merges wholesale
      Dedup.writeNearDupIndex(corpus.unionByName(delta), "doc_id", "text",
        "tndx3", n = 5, numBuckets = 4, merges = Some(
          Bpe.learn(corpus.unionByName(delta), "text", numMerges = 18)))
      assert(Bpe.mergesOf(spark.table("tndx3_merges")).length === 18)
    } finally dropIndex("tndx3")
  }

  test("a token index driven through the streaming batch ingest drops " +
      "a planted near-dup of the corpus (the grain comes from the index)") {
    dropIndex("tndx4")
    val corpus = Seq((10L, base), (11L, fresh)).toDF("doc_id", "text")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", "tndx4", n = 5,
      numBuckets = 4,
      merges = Some(Bpe.learn(corpus, "text", numMerges = 10)))
    val dir = java.nio.file.Files.createTempDirectory("graft_tndx4").toString
    try {
      // 30 near-dups the corpus doc 10; 31 is novel
      val batch = Seq((30L, base + " almost"),
        (31L, "entirely unrelated text about catalyst optimizer rules " +
          "and broadcast thresholds and nothing else whatsoever at all"))
        .toDF("doc_id", "text")
      graft.streaming.Streams.applyNearDupBatch(batch, "tndx4", "doc_id",
        "text", threshold = 0.5, maxBandFreq = None,
        acceptedPath = s"$dir/acc", id = 0L)
      assert(spark.read.parquet(s"$dir/acc/batch0").select("doc_id")
        .as[Long].collect().toSet === Set(31L),
        "the planted near-dup must be shingled at the index's piece grain")
    } finally dropIndex("tndx4")
  }
}
