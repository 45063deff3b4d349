package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generation. Every input the benchmark hands to graft comes
  * from here, as a pure function of the seed and the workload's shape.
  */
final class Gen(seed: Long) {
  val rnd = new SplittableRandom(seed)

  def uniform(n: Int): Int = rnd.nextInt(n)
  def unit(): Double = rnd.nextDouble()
  def gaussian(): Double = {
    // Box–Muller on the seeded stream (SplittableRandom has no gaussian)
    val u = math.max(rnd.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  /** Zipf(s) ranks 0 until n, by inverse CDF over the cumulative weights. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** A vocabulary of distinct lowercase pseudo-words, a few English
    * stopwords first so generated prose passes the quality gate.
    */
  def vocabulary(n: Int): Array[String] = {
    val stop = Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "on")
    val seen = mutable.LinkedHashSet.from(stop)
    while (seen.size < n) {
      val len = 3 + uniform(7)
      seen += Array.fill(len)(('a' + uniform(26)).toChar).mkString
    }
    seen.toArray
  }

  /** Prose of `lo`–`hi` words drawn Zipf-skewed from `vocab`. */
  def text(vocab: Array[String], zipf: Zipf, lo: Int, hi: Int): String =
    Array.fill(lo + uniform(hi - lo + 1))(vocab(zipf.draw())).mkString(" ")

  /** `text` with `edits` word positions replaced — a near-copy. */
  def edit(text: String, vocab: Array[String], edits: Int): String = {
    val w = text.split(' ')
    (1 to edits).foreach { _ => w(uniform(w.length)) = vocab(uniform(vocab.length)) }
    w.mkString(" ")
  }

  /** `text` one word longer or one word shorter at the end — the edit the
    * near-copies of the repo's sf0.1 `documents` table show.
    */
  def nearCopy(text: String, vocab: Array[String]): String =
    if (rnd.nextBoolean()) s"$text ${vocab(uniform(vocab.length))}"
    else text.substring(0, text.lastIndexOf(' '))

  def unitVector(dim: Int): Array[Float] = {
    val v = Array.fill(dim)(gaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def jitter(v: Array[Float], noise: Double): Array[Float] = {
    val w = v.map(x => x + noise * gaussian())
    val n = math.sqrt(w.map(x => x * x).sum)
    w.map(x => (x / n).toFloat)
  }

  /** A permutation of 0 until n (Fisher–Yates). */
  def permutation(n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = uniform(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

}

/** A generated document corpus with planted duplicate clusters. `clusters`
  * lists the ids of each planted cluster (exact and near copies of one
  * original); every id outside a cluster is a unique document.
  */
final case class Corpus(docs: Seq[(Long, String, Array[Float])],
                        clusters: Seq[Seq[Long]]) {
  def uniqueIds: Set[Long] = docs.map(_._1).toSet -- clusters.flatten
  def survivors: Set[Long] = uniqueIds ++ clusters.map(_.min)
}

object Corpus {
  /** `uniques` unique documents plus `nClusters` planted clusters whose
    * sizes are Zipf-skewed over 2..`maxCluster`; a copy is exact with
    * probability `exactShare`, otherwise a near-copy with `edits` edited
    * words. Ids start at `firstId` and are shuffled so a cluster's
    * original is not always its lowest id.
    */
  def generate(g: Gen, vocab: Array[String], uniques: Int, nClusters: Int,
               maxCluster: Int, exactShare: Double, edits: Int, firstId: Long,
               dim: Int, lo: Int, hi: Int): Corpus = {
    val words = new g.Zipf(vocab.length, 0.9)
    val sizes = new g.Zipf(maxCluster - 1, 1.2)
    val texts = mutable.ArrayBuffer.empty[(String, Array[Float], Int)] // cluster or -1
    (0 until uniques).foreach(_ => texts += ((g.text(vocab, words, lo, hi), g.unitVector(dim), -1)))
    (0 until nClusters).foreach { c =>
      val orig = g.text(vocab, words, lo, hi)
      val emb = g.unitVector(dim)
      texts += ((orig, emb, c))
      (1 until 2 + sizes.draw()).foreach { _ =>
        if (g.unit() < exactShare) texts += ((orig, emb, c))
        else texts += ((g.edit(orig, vocab, edits), g.jitter(emb, 0.01), c))
      }
    }
    val perm = g.permutation(texts.size)
    val docs = texts.indices.map { i =>
      val (t, e, _) = texts(i)
      (firstId + perm(i), t, e)
    }
    val clusters = texts.indices.filter(texts(_)._3 >= 0)
      .groupBy(texts(_)._3).toSeq.sortBy(_._1).map(_._2.map(i => firstId + perm(i)))
    Corpus(docs, clusters)
  }

}
