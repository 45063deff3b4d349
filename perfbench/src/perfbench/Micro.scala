package perfbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{NativeFunctions, VectorFunctions}

/** Micro-timings of graft's native Catalyst expressions against their
  * built-in / higher-order-function twins, run at the end of every traced
  * run: the per-operator native-vs-built-in accounting. All forms run over
  * one generated, cached embedding column.
  */
object Micro {
  val dim = 32
  val rows = 100000L
  val centroids = 16

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val vecs = spark.range(rows).select(array((0 until dim).map(i =>
      (rand(ctx.seed * 31 + i) - lit(0.5)).cast("float")): _*).as("e")).persist()
    vecs.count()
    val e = col("e")

    /** Nanoseconds per evaluation: `k` distinct copies of the expression
      * (distinct operands, so none is eliminated as a common
      * subexpression) summed in one aggregate, best of two passes, minus
      * the same pass over a trivial expression.
      */
    def perEval(k: Int)(expr: Int => Column): Double = {
      def best(c: Column) = (1 to 2).map { _ =>
        val t = System.nanoTime()
        vecs.agg(sum(c)).collect()
        (System.nanoTime() - t).toDouble
      }.min
      val base = best(size(e).cast("double"))
      math.max(best((0 until k).map(expr).reduce(_ + _)) - base, 0.0) / (rows * k)
    }
    def query(i: Int) = typedLit(new Gen(ctx.seed * 7 + i).unitVector(dim).toSeq)
    val cells = (0 until 8).map { i =>
      val cg = new Gen(ctx.seed * 13 + i)
      Array.fill(centroids)(cg.unitVector(dim).map(_.toDouble))
    }
    val broadcasts = cells.map(spark.sparkContext.broadcast(_))
    def hofNearest(i: Int) = {
      val dists = transform(typedLit(cells(i).toSeq.map(_.toSeq)), c =>
        aggregate(zip_with(e, c, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v))
      (array_position(dists, array_min(dists)) - 1).cast("double")
    }
    val out = Map(
      "functions.dot_f.ns_per_row" -> perEval(32)(i => NativeFunctions.dotF(e, query(i))),
      "functions.dot_f.builtin_ns_per_row" -> perEval(1)(i => VectorFunctions.dot(e, query(i))),
      "functions.nearest_cells.ns_per_row" -> perEval(8)(i =>
        element_at(NativeFunctions.nearestCells(e, broadcasts(i), 1), 1).cast("double")),
      "functions.nearest_cells.builtin_ns_per_row" -> perEval(1)(hofNearest))
    vecs.unpersist()
    out
  }
}
