package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution statistics for pipeline monitoring: before gating a
  * corpus on a score (quality, perplexity, length) you need its shape.
  * Spark's `approxQuantile` answers interactively but is
  * merge-order-dependent; these are exact, deterministic aggregates that
  * hold under the dual-engine hash gate.
  */
object Stats {

  /** Exact equi-width histogram of `valueCol` over [lo, hi): `bins`
    * buckets of width (hi-lo)/bins, out-of-range values clamped into the
    * edge buckets so totals are conserved. Returns one row per non-empty
    * bucket: `(bucket, lo_edge, hi_edge, cnt)`.
    *
    * One map-side-combined aggregation on a bounded key space (≤ bins
    * groups) — at 100 TB the shuffle carries at most `bins` rows per
    * task, nothing scales with the data.
    */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
                bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive: $bins")
    require(hi > lo, s"empty range: [$lo, $hi)")
    val width = (hi - lo) / bins
    val raw = floor((col(valueCol).cast("double") - lit(lo)) / lit(width))
    val bucket = least(greatest(raw, lit(0.0)), lit((bins - 1).toDouble))
      .cast("long")
    df.filter(col(valueCol).isNotNull)
      .select(bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo_edge", round(lit(lo) + col("bucket") * lit(width), 6))
      .withColumn("hi_edge", round(lit(lo) + (col("bucket") + 1) * lit(width), 6))
      .select(col("bucket"), col("lo_edge"), col("hi_edge"), col("cnt"))
  }

  /** Grouped numeric profile: count, min, max, mean, stddev (population).
    * Values quantize to 4 decimals and accumulate as EXACT scaled-integer
    * sums (decimal-backed, overflow-safe), so mean/variance are pure
    * functions of the value multiset — identical across partitionings and
    * engines. A plain double `sum` drifts with summation order (~n·ε
    * relative), which a rounded stddev at 1e8 magnitudes would expose;
    * the only doubles here are two final conversions and divisions, the
    * same IEEE ops in the same order on every engine.
    *
    * Domain: |value| ≤ ~9·10¹³ (the 18-digit decimal quantization bound);
    * squaring happens in decimal, so no long overflow inside the plan.
    */
  def profile(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val d: Column = col(valueCol).cast("decimal(18,4)")
    val u: Column = (d * lit(10000)).cast("long")
    val uDec: Column = u.cast("decimal(19,0)")
    val n = count(lit(1))
    val s = sum(u.cast("decimal(38,0)")).cast("double") / lit(1e4)
    val s2 = sum(uDec * uDec).cast("double") / lit(1e8)
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(n.as("cnt"),
        round(min(d).cast("double"), 4).as("min_v"),
        round(max(d).cast("double"), 4).as("max_v"),
        round(s / n, 4).as("mean_v"),
        round(sqrt(s2 / n - (s / n) * (s / n)), 4).as("stddev_pop"))
  }

  /** MERGEABLE per-batch partial of [[profile]]: the exact accumulators,
    * one row per group — `(grp, cnt, sum_u, sum_u2, min_v, max_v)` with
    * the sums as scaled decimals and min/max still decimal(18,4).
    * Partials from disjoint batches (today's ingest, yesterday's card)
    * combine through [[profileMerge]] into BIT-IDENTICAL output to
    * [[profile]] over the union: integer/decimal accumulators merge with
    * no float drift, and the finalization applies the same IEEE ops in
    * the same order. The incremental dataset-card step — a corpus is
    * never rescanned to refresh its card.
    */
  def profilePartial(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val d: Column = col(valueCol).cast("decimal(18,4)")
    val u: Column = (d * lit(10000)).cast("long")
    val uDec: Column = u.cast("decimal(19,0)")
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("cnt"),
        sum(u.cast("decimal(38,0)")).as("sum_u"),
        sum(uDec * uDec).as("sum_u2"),
        min(d).as("min_v"), max(d).as("max_v"))
  }

  /** Merge [[profilePartial]] frames (union them first) and finalize to
    * exactly [[profile]]'s schema and values.
    */
  def profileMerge(partials: DataFrame): DataFrame = {
    val merged = partials.groupBy("grp")
      .agg(sum("cnt").as("cnt"), sum("sum_u").as("sum_u"),
        sum("sum_u2").as("sum_u2"),
        min("min_v").as("min_v"), max("max_v").as("max_v"))
    val n = col("cnt")
    val s = col("sum_u").cast("double") / lit(1e4)
    val s2 = col("sum_u2").cast("double") / lit(1e8)
    merged.select(col("grp"), n.as("cnt"),
      round(col("min_v").cast("double"), 4).as("min_v"),
      round(col("max_v").cast("double"), 4).as("max_v"),
      round(s / n, 4).as("mean_v"),
      round(sqrt(s2 / n - (s / n) * (s / n)), 4).as("stddev_pop"))
  }

  /** Equal-frequency (equi-depth) binning: `bins` buckets holding
    * ~equal row counts, edges at the exact `i/bins` quantiles (linear
    * interpolation, rounded to 4 decimals so Spark `percentile` and
    * DuckDB `quantile_cont` agree — the q126 convention). A value
    * exactly ON a rounded edge belongs to the LOWER bucket. The
    * feature-binning primitive (score → decile) next to [[histogram]]'s
    * fixed-width buckets.
    *
    * Scale shape: one single-row percentile aggregate (broadcast
    * back), one bounded-key contraction. With `exact = true` (the
    * default — engine-replayable edges, the validation-scale choice)
    * Spark's `percentile` materializes the full value multiset in one
    * aggregation buffer — fine to ~10^8 rows, an executor-memory
    * scale-killer past that. Pass `exact = false` for
    * `approx_percentile` (GK sketch: mergeable, bounded memory,
    * ±`1/accuracy` rank error) — the q126 [[graft.ops.TextAnalysis
    * .perplexityBuckets]] switch, same trade.
    *
    * Output: one row per non-empty bucket,
    * `(bucket, n, lo_v, hi_v)` with observed min/max rounded to 4.
    */
  def equiDepthBins(df: DataFrame, valueCol: String, bins: Int,
                    exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val edges = quantileEdges(df, valueCol, bins, exact, accuracy)
    if (edges == null)
      // no bucketable mass: empty output, schema identical to the
      // grouped aggregate below
      return df.filter(lit(false)).filter(col(valueCol).isNotNull)
        .groupBy(lit(0L).as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col(valueCol)), 4).as("lo_v"),
          round(max(col(valueCol)), 4).as("hi_v"))
    df.filter(col(valueCol).isNotNull)
      .groupBy(bucketOf(col(valueCol), edges).as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col(valueCol)), 4).as("lo_v"),
        round(max(col(valueCol)), 4).as("hi_v"))
  }

  /** Rounded equi-depth edges of `valueCol` as a DRIVER-side array of
    * `bins − 1` doubles — the bounded-scalar collect pattern
    * ([[graft.ops.Sampling.balancedDownsample]]'s cap): the edges then
    * re-enter every bucketing plan as LITERALS, so (a) the bucket index
    * is a whole-stage-codegen comparison chain instead of an
    * interpreted array-lambda per row (measured ~4× on the q186
    * bucketing legs), and (b) the edges subtree can never be
    * re-evaluated by a downstream branch. Returns null when the column
    * has no non-null values.
    */
  private[graft] def quantileEdges(df: DataFrame, valueCol: String,
                                   bins: Int, exact: Boolean,
                                   accuracy: Int): Array[Double] = {
    val r = roundedEdges(df, valueCol, Nil, bins, exact, accuracy).head()
    if (r.isNullAt(0)) null else r.getSeq[Double](0).toArray
  }

  /** Equi-depth edges `_e` per key: the `i/bins` quantiles, rounded IN
    * the plan (`round(e, 4)`, HALF_UP) so the collected, stored and
    * broadcast forms are bit-identical. No keys → one row (null `_e`
    * when the column has no non-null values); keys → one
    * `(keys…, _e)` row per observed key. `exact = true` runs
    * [[graft.functions.ExactQuantiles]] (primitive buffer, one sort —
    * same interpolation arithmetic as Spark's `percentile`, held by the
    * DuckDB `quantile_cont` oracle gates); `exact = false` the mergeable
    * GK sketch, the 100 TB escape.
    */
  private def roundedEdges(df: DataFrame, valueCol: String, keys: Seq[Column],
                           bins: Int, exact: Boolean,
                           accuracy: Int): DataFrame = {
    val ps = (1 until bins).map(i => i.toDouble / bins)
    val pct =
      if (exact)
        graft.functions.ExactQuantiles.exactQuantiles(col(valueCol), ps)
      else
        expr(s"approx_percentile($valueCol, array(${ps.mkString(", ")}), " +
          s"$accuracy)").cast("array<double>")
    val raw = df.filter(col(valueCol).isNotNull).groupBy(keys: _*)
      .agg(pct.as("_eq"))
    raw.select(raw.columns.init.toSeq.map(col) :+
      transform(col("_eq"), e => round(e, 4)).as("_e"): _*)
  }

  /** One-pass exact reference profile — rounded edges plus per-bucket
    * counts from [[graft.functions.QuantileBucketCounts]]'s single
    * sorted buffer; null when the column has no non-null values.
    */
  private def referenceProfile(df: DataFrame, valueCol: String,
                               bins: Int): (Array[Double], Array[Long]) = {
    val ps = (1 until bins).map(i => i.toDouble / bins)
    val r = df.filter(col(valueCol).isNotNull)
      .agg(graft.functions.ExactQuantiles
        .quantileBucketCounts(col(valueCol), ps).as("_p"))
      .head()
    if (r.isNullAt(0)) null
    else {
      val s = r.getStruct(0)
      (s.getSeq[Double](0).toArray, s.getSeq[Long](1).toArray)
    }
  }

  /** Codegen'd bucket index over literal edges: the count of edges the
    * value exceeds — value-identical to
    * `size(filter(edges, e => v > e))` on the broadcast form.
    */
  private def bucketOf(v: Column, edges: Array[Double]): Column =
    edges.foldLeft(lit(0L))((acc, e) =>
      acc + when(v > lit(e), lit(1L)).otherwise(lit(0L))).cast("long")

  /** A PSI reference's equi-depth edges in the form that buckets a
    * snapshot — scalar: `bins − 1` doubles that re-enter the plan as
    * literals ([[bucketOf]]); per group: a `(group, _e)` frame joined
    * on the group (groups are data-dependent, so they cannot be
    * literals). [[loadPsiEdges]] reads either form from storage.
    */
  sealed trait PsiEdges
  object PsiEdges {
    final case class Scalar(edges: Array[Double]) extends PsiEdges
    final case class ByGroup(edges: DataFrame) extends PsiEdges
  }

  /** `(bucket, <as>)` — or `(group, bucket, <as>)` — counts of `df`
    * under `edges`; a value exactly ON an edge belongs to the LOWER
    * bucket. Per-group rows whose group has no edges drop at the join.
    */
  private def bucketCounts(df: DataFrame, valueCol: String, edges: PsiEdges,
                           groupCol: Option[String], as: String): DataFrame = {
    val valued = df.filter(col(valueCol).isNotNull)
    edges match {
      case PsiEdges.Scalar(e) =>
        valued.groupBy(bucketOf(col(valueCol), e).as("bucket"))
          .agg(count(lit(1)).as(as))
      case PsiEdges.ByGroup(e) =>
        valued.select(col(groupCol.get).as("group"), col(valueCol))
          .join(e, "group")
          .withColumn("bucket",
            size(filter(col("_e"), x => col(valueCol) > x)).cast("long"))
          .groupBy("group", "bucket").agg(count(lit(1)).as(as))
    }
  }

  /** Every `(group?, bucket)` cell the reference's edges define, each
    * side's [[bucketCounts]] left-joined in (a missing count is 0) —
    * the bounded grid [[psiScore]] reads. A per-group grid is a
    * row-local explode over the edges rows, not a cross join.
    */
  private def bucketGrid(edges: PsiEdges, bins: Int, valueCol: String,
                         groupCol: Option[String],
                         sides: (DataFrame, String)*): DataFrame = {
    val (cells, cell) = edges match {
      case PsiEdges.Scalar(_) =>
        (sides.head._1.sparkSession.range(bins).select(col("id").as("bucket")),
          Seq("bucket"))
      case PsiEdges.ByGroup(e) =>
        (e.select(col("group"),
          explode(sequence(lit(0L), lit(bins - 1L))).as("bucket")),
          Seq("group", "bucket"))
    }
    sides.foldLeft(cells) { case (g, (df, as)) =>
      g.join(bucketCounts(df, valueCol, edges, groupCol, as), cell, "left")
    }.select(cell.map(col) ++ sides.map { case (_, as) =>
      coalesce(col(as), lit(0L)).as(as) }: _*)
  }

  /** Empty result in [[psi]]'s exact output schema (all BIGINT) — the
    * zero-mass early return.
    */
  private def emptyPsiGrid(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0).select(col("id").as("bucket"), col("id").as("n_ref"),
      col("id").as("n_cur"), col("id").as("p_micro"), col("id").as("q_micro"),
      col("id").as("psi_micro"))

  /** [[psi]]'s per-bucket scoring over ALREADY-BOUNDED bucket counts,
    * finalized on the driver: the arithmetic byte-replays
    * [[psiScore]]'s plan — `greatest(n/tot, 1e-6)` as `math.max`, Spark
    * `round(x, s)` as `BigDecimal.valueOf(x).setScale(s, HALF_UP)` (the
    * Round expression's double path), `log` as `Math.log` — so the
    * emitted micro-units are bit-identical to the distributed plan and
    * the DuckDB oracle. Zero-total guard as in [[psiScore]]: either side
    * empty → empty result.
    */
  private def psiGridLocal(spark: org.apache.spark.sql.SparkSession,
                           nRef: Array[Long], nCur: Array[Long]): DataFrame = {
    val tr = nRef.sum
    val tc = nCur.sum
    if (tr == 0 || tc == 0) return emptyPsiGrid(spark)
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def micro(x: Double): Long = java.math.BigDecimal.valueOf(r6(x) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    import spark.implicits._
    nRef.indices.map { b =>
      val pf = math.max(nRef(b).toDouble / tr, 1e-6)
      val qf = math.max(nCur(b).toDouble / tc, 1e-6)
      (b.toLong, nRef(b), nCur(b), micro(pf), micro(qf),
        micro((pf - qf) * math.log(pf / qf)))
    }.toDF("bucket", "n_ref", "n_cur", "p_micro", "q_micro", "psi_micro")
  }

  /** The one PSI scoring plan: over a bounded grid ending in
    * `(n_ref, n_cur)` — bins rows, groups × bins rows or category rows
    * — each `keys` partition's totals, the fractions floored at 1e-6,
    * and the micro-rounded `p`, `q` and `(p − q)·ln(p/q)` terms, after
    * the grid's own columns.
    *
    * Totals ride a window over the grid — ONE lineage. The r9
    * formulation (`tot = grid.agg(...)` crossJoined back) evaluated the
    * grid's whole corpus-scan subtree a second time: 11 parquet scans
    * where 2 suffice, the measured q186 regression (StatsAnalyticsSpec
    * pins the scan count). The window shuffles only grid rows — nothing
    * scales with the data. Zero-total guard: an empty side zeroes a
    * partition's total and the filter drops its rows, so the result is
    * EMPTY instead of NaN/Infinity-derived garbage micro-units. Every
    * stored or recomputed group has `n_ref > 0`, so per group only an
    * empty current slice removes it.
    */
  private def psiScore(grid: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val pf = greatest(col("n_ref").cast("double") / col("_tr"), lit(1e-6))
    val qf = greatest(col("n_cur").cast("double") / col("_tc"), lit(1e-6))
    grid
      .withColumn("_tr", sum("n_ref").over(w))
      .withColumn("_tc", sum("n_cur").over(w))
      .filter(col("_tr") > 0 && col("_tc") > 0)
      .select(grid.columns.toSeq.map(col) ++ Seq(
        round(round(pf, 6) * lit(1e6), 0).cast("long").as("p_micro"),
        round(round(qf, 6) * lit(1e6), 0).cast("long").as("q_micro"),
        round(round((pf - qf) * log(pf / qf), 6) * lit(1e6), 0)
          .cast("long").as("psi_micro")): _*)
  }

  /** Population Stability Index between a REFERENCE snapshot and a
    * CURRENT one — the standard "did this feature drift" monitor for a
    * column feeding a model or a mix policy: the reference's equi-depth
    * quantile edges ([[equiDepthBins]]' rounded-edge / ties-go-LOW
    * rule, with the same `exact = false` GK-sketch escape at scale)
    * bucket BOTH snapshots, and each bucket contributes
    * `(p - q) * ln(p / q)` where `p`/`q` are the reference/current
    * fractions floored at 1e-6 (the conventional guard — an empty
    * bucket signals hard drift with a large finite term, never an
    * infinity). PSI > 0.25 is the classic "investigate" line; the
    * per-bucket rows localize WHERE the mass moved.
    *
    * Scale shape: one quantile aggregate on the reference (edges land
    * as `bins − 1` driver-side literals — [[quantileEdges]]), one
    * bounded-key codegen'd contraction per snapshot, a `bins`-row
    * grid — each side is read once for bucketing, the reference once
    * more for its edges.
    *
    * Output: one row per bucket 0..bins-1,
    * `(bucket, n_ref, n_cur, p_micro, q_micro, psi_micro)`; total PSI
    * is `sum(psi_micro)` (order-free integer sum). An EMPTY side (the
    * upstream-breakage case PSI exists to catch) yields an EMPTY
    * result — zero totals would otherwise flow NaN/Infinity through
    * the divisions into garbage longs; a monitor must alert on the
    * missing output, never trust a number from it.
    */
  def psi(reference: DataFrame, current: DataFrame, valueCol: String,
          bins: Int = 10, exact: Boolean = true,
          accuracy: Int = 10000): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val spark = reference.sparkSession
    if (exact) {
      // ONE pass over the reference: the fused aggregate emits edges
      // AND the per-bucket reference counts from the same sorted
      // buffer — the corpus-read count is the logical minimum (one per
      // side; the r9 shape read the reference three times). Both
      // sides' bucket counts are ≤ `bins` bounded longs, so the grid
      // arithmetic finalizes ON THE DRIVER ([[psiGridLocal]], the
      // balancedDownsample bounded-collect pattern) — no tiny-stage
      // join/window scheduling overhead trails the two corpus jobs.
      val prof = referenceProfile(reference, valueCol, bins)
      if (prof == null) return emptyPsiGrid(spark)
      val (edges, refCounts) = prof
      val curCounts = new Array[Long](bins)
      bucketCounts(current, valueCol, PsiEdges.Scalar(edges), None, "n_cur")
        .collect()
        .foreach(r => curCounts(r.getLong(0).toInt) = r.getLong(1))
      return psiGridLocal(spark, refCounts, curCounts)
    }
    val edges = quantileEdges(reference, valueCol, bins, exact, accuracy)
    if (edges == null) return emptyPsiGrid(spark)
    psiScore(bucketGrid(PsiEdges.Scalar(edges), bins, valueCol, None,
      reference -> "n_ref", current -> "n_cur"), Nil)
  }

  /** [[psi]] per group — drift monitored per SLICE (per source, per
    * language, per return-flag): each group's reference slice defines
    * its OWN equi-depth edges, both snapshots bucket within the group,
    * and contributions float the same 1e-6 guard — so one feed
    * drifting does not dilute into a corpus-wide average (the
    * perplexityBuckets per-language-cuts discipline applied to
    * monitoring). Groups with no reference slice are absent — a NEW
    * group has no baseline; watch the group column itself with
    * [[psiCategorical]].
    *
    * Scale shape: one group-grain percentile aggregate (rows =
    * groups), one bounded-key contraction per snapshot, a
    * groups × bins grid join.
    *
    * Output: `(group, bucket, n_ref, n_cur, p_micro, q_micro,
    * psi_micro)`; per-group total PSI is `sum(psi_micro)` over the
    * group's rows.
    */
  def psiByGroup(reference: DataFrame, current: DataFrame,
                 groupCol: String, valueCol: String, bins: Int = 10,
                 exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    // per-group edges CANNOT collapse to driver literals (groups are
    // data-dependent) — they stay a join; the quantile aggregate itself
    // is the fast primitive-buffer one
    val edges = roundedEdges(reference, valueCol,
      Seq(col(groupCol).as("group")), bins, exact, accuracy)
    psiScore(bucketGrid(PsiEdges.ByGroup(edges), bins, valueCol,
      Some(groupCol), reference -> "n_ref", current -> "n_cur"), Seq("group"))
  }

  /** A stored reference's form is fixed at write time: scoring it
    * with a `group_col` it was not written with (or without the one
    * it was) fails here, instead of joining the wrong grain and
    * returning a plausible wrong number.
    */
  private def requireForm(monitor: String, storedByGroup: Boolean,
                          currentByGroup: Boolean): Unit =
    require(storedByGroup == currentByGroup,
      s"$monitor reference is ${if (storedByGroup) "per-group" else "scalar"}" +
        s" but the current side is ${if (currentByGroup) "per-group" else "scalar"}" +
        " — pass group_col exactly when the reference was written with one")

  /** Persist a PSI monitor's REFERENCE profile once — the [[graft.ops
    * .Compare]] profilePartial/profileMerge discipline applied to drift
    * monitoring: [[psi]] recomputes the reference quantile edges and
    * bucket counts on EVERY run, which at 100 TB means every monitoring
    * tick rescans a corpus that by definition does not change. This
    * writes the rounded edges and the zero-filled per-bucket reference
    * counts to `path`; [[psiFromReference]] then scores any current
    * snapshot against them reading only the current side — and
    * [[psiCurrentPartial]] / [[psiFromPartials]] split the current side
    * itself into mergeable integer bucket counts (order-free sums), so
    * incremental feeds contract as they arrive. Output of the
    * partial-fed path is bit-identical to a full [[psi]] recompute
    * (oracle-gated as q200).
    *
    * The stored layout decides the form every later call uses:
    *  - scalar (no `groupCol`): `$path/edges` is one `_e` row,
    *    `$path/buckets` is `(bucket, n_ref)`;
    *  - per group ([[psiByGroup]]'s slice matrix, so q197-style
    *    monitors stop rescanning every reference SLICE per tick):
    *    `$path/edges` is `(group, _e)`, `$path/buckets` is
    *    `(group, bucket, n_ref)` — groups are the reference's observed
    *    slices, and a group absent here is absent from every score
    *    (oracle-gated as q207).
    */
  def writePsiReference(reference: DataFrame, valueCol: String, path: String,
                        bins: Int = 10, exact: Boolean = true,
                        accuracy: Int = 10000,
                        groupCol: Option[String] = None): Unit = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val spark = reference.sparkSession
    import spark.implicits._
    def noBaseline = s"writePsiReference: $valueCol has no non-null " +
      "values — an empty reference is not a baseline"
    def writeEdges(edges: Array[Double]): Unit = spark.range(1)
      .select(array(edges.toIndexedSeq.map(lit(_)): _*).as("_e"))
      .write.mode("overwrite").parquet(s"$path/edges")
    if (exact && groupCol.isEmpty) {
      // one corpus pass: the fused profile carries edges AND counts
      val prof = referenceProfile(reference, valueCol, bins)
      require(prof != null, noBaseline)
      val (edges, counts) = prof
      writeEdges(edges)
      counts.toSeq.zipWithIndex.map { case (c, b) => (b.toLong, c) }
        .toDF("bucket", "n_ref")
        .write.mode("overwrite").parquet(s"$path/buckets")
    } else {
      groupCol match {
        case None =>
          val edges = quantileEdges(reference, valueCol, bins, exact, accuracy)
          require(edges != null, noBaseline)
          writeEdges(edges)
        case Some(g) =>
          roundedEdges(reference, valueCol, Seq(col(g).as("group")), bins,
            exact, accuracy).write.mode("overwrite").parquet(s"$path/edges")
      }
      // bucket with what was STORED (read back) so any write/read
      // precision drift surfaces at write time, not at monitor time
      bucketGrid(loadPsiEdges(spark, path), bins, valueCol, groupCol,
        reference -> "n_ref").write.mode("overwrite").parquet(s"$path/buckets")
    }
  }

  /** A stored PSI reference's edges, loaded once — the form comes from
    * the stored schema: a scalar reference's one row becomes driver
    * literals (`bins − 1` doubles); a per-group reference's
    * `(group, _e)` rows are collected (bounded: groups × (bins − 1)
    * doubles) into a LOCAL relation, which [[psiCurrentPartial]]
    * broadcasts. A monitor that contracts
    * many feeds or micro-batches loads this once per drain and passes
    * it to every [[psiCurrentPartial]], so no feed re-reads the
    * reference parquet.
    */
  def loadPsiEdges(spark: org.apache.spark.sql.SparkSession,
                   path: String): PsiEdges = {
    val stored = spark.read.parquet(s"$path/edges")
    if (stored.columns.contains("group"))
      PsiEdges.ByGroup(spark.createDataFrame(
        java.util.Arrays.asList(stored.collect(): _*), stored.schema))
    else PsiEdges.Scalar(stored.head().getSeq[Double](0).toArray)
  }

  /** Contract one current-side feed to `(bucket, n_cur)` — or
    * `(group, bucket, n_cur)` with `groupCol` — against a reference's
    * loaded edges: a mergeable partial (integer counts, order-free
    * under union). Daily/hourly feeds or streaming micro-batches each
    * contract independently and [[psiFromPartials]] sums them, so a
    * monitoring tick touches only the new increment, never the history
    * or the reference corpus. The same edges give the same partial on
    * every call, so a replayed batch lands bit-identical rows. Per
    * group, rows of groups with no stored baseline drop here. A
    * `groupCol` that disagrees with the edges' form fails loudly.
    */
  def psiCurrentPartial(current: DataFrame, valueCol: String,
                        edges: PsiEdges,
                        groupCol: Option[String] = None): DataFrame = {
    requireForm("PSI", edges.isInstanceOf[PsiEdges.ByGroup],
      groupCol.isDefined)
    bucketCounts(current, valueCol, edges match {
      case PsiEdges.ByGroup(e) => PsiEdges.ByGroup(broadcast(e))
      case scalar => scalar
    }, groupCol, "n_cur")
  }

  /** Score merged current partials against the stored reference profile
    * — same output schema and quantization as [[psi]] (scalar) or
    * [[psiByGroup]] (per group), bit-identical to the full recompute
    * over the concatenated feeds. `partials` is any union of
    * [[psiCurrentPartial]] outputs (duplicate cells sum); their form
    * must match the stored one. An empty side yields an EMPTY result
    * (per group: the group is absent) — [[psiScore]]'s zero-total guard.
    */
  def psiFromPartials(spark: org.apache.spark.sql.SparkSession,
                      path: String, partials: DataFrame): DataFrame = {
    val ref = spark.read.parquet(s"$path/buckets")
    val keys = if (ref.columns.contains("group")) Seq("group") else Nil
    requireForm("PSI", keys.nonEmpty, partials.columns.contains("group"))
    val cell = keys :+ "bucket"
    val merged = partials.groupBy(cell.map(col): _*)
      .agg(sum("n_cur").as("n_cur"))
    psiScore(ref.join(merged, cell, "left")
      .select(cell.map(col) ++ Seq(col("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur")): _*), keys)
  }

  /** One-shot monitor tick against a stored reference: contract the
    * current snapshot, score — the reference corpus is never read.
    */
  def psiFromReference(spark: org.apache.spark.sql.SparkSession,
                       path: String, current: DataFrame, valueCol: String,
                       groupCol: Option[String] = None): DataFrame =
    psiFromPartials(spark, path, psiCurrentPartial(current, valueCol,
      loadPsiEdges(spark, path), groupCol))

  /** Exact two-sample Kolmogorov-Smirnov statistic — the
    * distribution-free drift test beside [[psi]]'s binned score:
    * `D = sup_v |F_ref(v) - F_cur(v)|`, computed EXACTLY over the
    * merged distinct-value table with a SPLIT prefix sum (the
    * [[graft.ops.Events.peakConcurrency]] pattern): values bucket by
    * approximate quantile edges of the union (bucketing is monotone so
    * it cannot change the answer — it only balances partitions),
    * within-bucket running counts hash-partition by bucket, and the
    * carry-in offsets come from one window over the BUCKET-grain net
    * table (rows = `buckets`, which no data size can grow). No
    * one-task global window anywhere.
    *
    * The CDF difference per value is exact integer cumulative counts
    * through two identical IEEE divisions, micro-rounded per value;
    * the reported row is the max by `(d_micro DESC, value ASC)` — a
    * deterministic argmax both engines replay.
    *
    * Output: one row, `(n_ref, n_cur, d_micro, at_value)` with
    * `at_value` the 4-rounded location of the supremum.
    */
  def ksStatistic(reference: DataFrame, current: DataFrame,
                  valueCol: String, buckets: Int = 64): DataFrame =
    ksCore(ksSide(reference, valueCol, "nr"), ksSide(current, valueCol, "nc"),
      Nil, buckets)

  /** [[ksStatistic]] per SLICE — the KS member of the per-group drift
    * matrix beside [[psiByGroup]]: each group's supremum
    * `sup_v |F_ref(v) − F_cur(v)|` is computed EXACTLY over that
    * group's merged distinct values, so one feed's distribution shift
    * never dilutes into a corpus-wide statistic. Same split prefix-sum
    * and argmax as the scalar op ([[ksCore]]). Groups empty on either
    * side are absent (the zero-total guard, per slice); null group
    * values are excluded (watch the group column itself with
    * [[psiCategorical]]).
    *
    * Output: one row per group,
    * `(group, n_ref, n_cur, d_micro, at_value)`.
    */
  def ksByGroup(reference: DataFrame, current: DataFrame, groupCol: String,
                valueCol: String, buckets: Int = 64): DataFrame =
    ksCore(ksSide(reference, valueCol, "nr", Some(groupCol)),
      ksSide(current, valueCol, "nc", Some(groupCol)), Seq("g"), buckets)

  /** Distinct-value count contraction `(v, <as>)` — or `(g, v, <as>)`
    * with `groupCol`, null groups excluded — KS's minimal sufficient
    * statistic per side (per slice).
    */
  private def ksSide(df: DataFrame, valueCol: String, as: String,
                     groupCol: Option[String] = None): DataFrame = {
    val g = groupCol.map(c => col(c).as("g")).toSeq
    df.filter(groupCol.foldLeft(col(valueCol).isNotNull)((p, c) =>
        p && col(c).isNotNull))
      .select(g :+ col(valueCol).cast("double").as("v"): _*)
      .groupBy((g.map(_ => col("g")) :+ col("v")): _*)
      .agg(count(lit(1)).as(as))
  }

  /** Persist a KS monitor's REFERENCE side once — the [[writePsiReference]]
    * discipline for the distribution-free test: the reference's
    * distinct-value counts are KS's minimal sufficient statistic
    * (orders of magnitude smaller than the corpus for any
    * bounded-cardinality feature), so a monitoring tick reads them
    * instead of rescanning the reference corpus.
    * [[ksCurrentPartial]] / [[ksFromPartials]] make the current side
    * mergeable integer counts, and the partial-fed statistic is
    * bit-identical to a full [[ksStatistic]] / [[ksByGroup]] recompute
    * (oracle-gated as q202 / q208).
    *
    * The stored layout decides the form every later call uses:
    * `$path/values` is `(v, nr)` for a scalar reference, `(g, v, nr)`
    * for a per-group one (`groupCol`).
    */
  def writeKsReference(reference: DataFrame, valueCol: String, path: String,
                       groupCol: Option[String] = None): Unit =
    ksSide(reference, valueCol, "nr", groupCol)
      .write.mode("overwrite").parquet(s"$path/values")

  /** Contract one current-side feed to mergeable `(v, n_cur)` counts —
    * `(g, v, n_cur)` with `groupCol` — duplicates across feeds sum
    * (order-free integers). Reference-free: a streaming monitor needs
    * nothing loaded, and a replayed batch lands bit-identical rows.
    */
  def ksCurrentPartial(current: DataFrame, valueCol: String,
                       groupCol: Option[String] = None): DataFrame =
    ksSide(current, valueCol, "n_cur", groupCol)

  /** Exact KS against the stored reference from merged current partials
    * — same output and quantization as [[ksStatistic]] (scalar) or
    * [[ksByGroup]] (per group). The form is read from the stored
    * schema; partials of the other form fail loudly.
    */
  def ksFromPartials(spark: org.apache.spark.sql.SparkSession, path: String,
                     partials: DataFrame, buckets: Int = 64): DataFrame = {
    val ref = spark.read.parquet(s"$path/values")
    val keys = if (ref.columns.contains("g")) Seq("g") else Nil
    requireForm("KS", keys.nonEmpty, partials.columns.contains("g"))
    ksCore(ref, partials.groupBy((keys :+ "v").map(col): _*)
      .agg(sum("n_cur").as("nc")), keys, buckets)
  }

  /** One-shot monitor tick against a stored KS reference. */
  def ksFromReference(spark: org.apache.spark.sql.SparkSession, path: String,
                      current: DataFrame, valueCol: String,
                      buckets: Int = 64,
                      groupCol: Option[String] = None): DataFrame =
    ksFromPartials(spark, path, ksCurrentPartial(current, valueCol, groupCol),
      buckets)

  /** The one KS plan over `(keys…, v, nr)` / `(keys…, v, nc)` counts,
    * `keys` empty (scalar) or `Seq("g")` (per group). Global quantile
    * edges of the merged values only BALANCE partitions (bucketing is
    * monotone); each key's carry-in offsets and totals ride full-frame
    * window sums over the bounded (keys × buckets) net table — never a
    * second evaluation of `merged`'s lineage (the q186
    * duplicated-lineage lesson). The zero-total guard empties a key's
    * offsets rows, and the inner join drops that key. The argmax is a
    * `max_by` HASH AGGREGATE on `(d_micro, −v)` — ties go to the
    * smaller value, never a sort task. Without keys that aggregate is
    * global and returns one null row on empty input, which the
    * `_best` filter removes: an empty side yields ZERO rows.
    */
  private def ksCore(refCounts: DataFrame, curCounts: DataFrame,
                     keys: Seq[String], buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val kv = keys :+ "v"
    val merged = refCounts
      .join(curCounts, kv, "full_outer")
      .select(kv.map(col) ++ Seq(coalesce(col("nr"), lit(0L)).as("nr"),
        coalesce(col("nc"), lit(0L)).as("nc")): _*)
    val ps = (1 until buckets).map(i => i.toDouble / buckets)
    val bucketed =
      if (buckets == 1) merged.withColumn("_b", lit(0))
      else {
        val edges = merged
          .agg(expr(s"approx_percentile(v, array(${ps.mkString(", ")}), 1000)")
            .as("_e"))
        merged.crossJoin(broadcast(edges))
          .withColumn("_b", size(filter(col("_e"), e => col("v") > e)))
          .drop("_e")
      }
    val kb = keys :+ "_b"
    val bucketNet = bucketed.groupBy(kb.map(col): _*)
      .agg(sum("nr").as("_br"), sum("nc").as("_bc"))
    val wK = Window.partitionBy(keys.map(col): _*).orderBy("_b")
    val wB = wK.rowsBetween(Window.unboundedPreceding, -1)
    val wT = wK.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val offsets = bucketNet
      .withColumn("_or", coalesce(sum("_br").over(wB), lit(0L)))
      .withColumn("_oc", coalesce(sum("_bc").over(wB), lit(0L)))
      .withColumn("_tr", sum("_br").over(wT))
      .withColumn("_tc", sum("_bc").over(wT))
      .filter(col("_tr") > 0 && col("_tc") > 0)
      .select((kb ++ Seq("_or", "_oc", "_tr", "_tc")).map(col): _*)
    val wIn = Window.partitionBy(kb.map(col): _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val diffs = bucketed
      .withColumn("_cr", sum("nr").over(wIn))
      .withColumn("_cc", sum("nc").over(wIn))
      .join(broadcast(offsets), kb)
      .select(kv.map(col) ++ Seq(col("_tr"), col("_tc"),
        round(round(abs(
          (col("_cr") + col("_or")).cast("double") / col("_tr") -
          (col("_cc") + col("_oc")).cast("double") / col("_tc")), 6)
          * lit(1e6), 0).cast("long").as("d_micro")): _*)
    diffs.groupBy(keys.map(col): _*)
      .agg(max_by(
          struct(col("_tr"), col("_tc"), col("d_micro"),
            round(col("v"), 4).as("at_value")),
          struct(col("d_micro"), negate(col("v")))).as("_best"))
      .filter(col("_best").isNotNull)
      .select(keys.map(k => col(k).as("group")) ++ Seq(
        col("_best._tr").as("n_ref"), col("_best._tc").as("n_cur"),
        col("_best.d_micro").as("d_micro"), col("_best.at_value")): _*)
  }

  /** Categorical PSI — [[psi]] over a discrete column: the category
    * set is the UNION of both snapshots' observed values (a category
    * present on one side only is precisely the drift signal, scored
    * through the same 1e-6 floor), fractions and per-category
    * `(p - q) * ln(p / q)` terms as in the numeric variant. Null
    * category values count as their own `(null)` bucket — silent
    * null growth is a classic upstream breakage.
    *
    * Scale shape: one distinct-value contraction per side (the column's
    * cardinality bounds everything downstream), a full-outer merge at
    * category grain, broadcast totals.
    *
    * Output: one row per category,
    * `(category, n_ref, n_cur, p_micro, q_micro, psi_micro)`. An
    * EMPTY side yields an EMPTY result (see [[psi]] — same zero-total
    * guard), never NaN-derived garbage.
    */
  def psiCategorical(reference: DataFrame, current: DataFrame,
                     valueCol: String): DataFrame = {
    val nullToken = lit("(null)")
    def counted(df: DataFrame, as: String) = df
      .select(coalesce(col(valueCol).cast("string"), nullToken)
        .as("category"))
      .groupBy("category").agg(count(lit(1)).as(as))
    val grid = counted(reference, "n_ref")
      .join(counted(current, "n_cur"), Seq("category"), "full_outer")
      .select(col("category"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    // the one-task scoring window holds exactly the category rows, the
    // op's stated cardinality bound
    psiScore(grid, Nil)
  }

  /** Exact pairwise Pearson correlation over `cols` — ONE pass, one
    * single-row aggregate: every per-column and per-pair accumulator
    * (Σu, Σu², Σuv as 4-decimal scaled DECIMAL integers — the
    * [[profile]] convention) computes exactly, so `r` is a pure
    * function of the value multiset; the only doubles are the final
    * covariance/variance arithmetic, identical IEEE ops on identical
    * exact inputs on every engine. Pairwise-complete semantics: each
    * pair's `n` counts rows where BOTH values are non-null (null rows
    * contribute zero to that pair's sums).
    *
    * Output: `(col_a, col_b, n, r_micro)` for each a < b pair (declared
    * order), via a row-local `stack` unpivot of the single aggregate
    * row. `r_micro` is null for degenerate pairs (zero variance).
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"correlationMatrix needs >= 2 columns")
    require(cols.distinct.size == cols.size, "duplicate columns")
    // quantize each column ONCE before aggregating: the decimal
    // conversion is the per-row hot cost and a column shows up in
    // (n-1) pairs × 4 accumulators — recomputing it there measured ~2×
    // on the q166 bench
    val quantized = df.select(cols.flatMap(c => Seq(
      ((col(c).cast("decimal(18,4)")) * lit(10000)).cast("long")
        .cast("decimal(19,0)").as(s"_u_$c"),
      col(c).isNotNull.as(s"_p_$c"))): _*)
    def both(a: String, b: String): Column =
      col(s"_p_$a") && col(s"_p_$b")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      val uaD = col(s"_u_$a")
      val ubD = col(s"_u_$b")
      val w = both(a, b)
      Seq(
        sum(when(w, lit(1L)).otherwise(lit(0L))).as(s"n__${a}__$b"),
        sum(when(w, uaD).otherwise(lit(0))).as(s"sa__${a}__$b"),
        sum(when(w, ubD).otherwise(lit(0))).as(s"sb__${a}__$b"),
        sum(when(w, uaD * uaD).otherwise(lit(0))).as(s"saa__${a}__$b"),
        sum(when(w, ubD * ubD).otherwise(lit(0))).as(s"sbb__${a}__$b"),
        sum(when(w, uaD * ubD).otherwise(lit(0))).as(s"sab__${a}__$b"))
    }
    val one = quantized.agg(aggs.head, aggs.tail: _*)
    val withR = pairs.foldLeft(one) { case (d, (a, b)) =>
      val n = col(s"n__${a}__$b").cast("double")
      val sa = col(s"sa__${a}__$b").cast("double")
      val sb = col(s"sb__${a}__$b").cast("double")
      val saa = col(s"saa__${a}__$b").cast("double")
      val sbb = col(s"sbb__${a}__$b").cast("double")
      val sab = col(s"sab__${a}__$b").cast("double")
      val cov = n * sab - sa * sb
      val va = n * saa - sa * sa
      val vb = n * sbb - sb * sb
      d.withColumn(s"r__${a}__$b",
        when(va > 0 && vb > 0,
          round(round(cov / sqrt(va * vb), 6) * lit(1e6), 0).cast("long")))
    }
    val cells = pairs.map { case (a, b) =>
      s"'$a', '$b', `n__${a}__$b`, `r__${a}__$b`"
    }
    withR.select(expr(
      s"stack(${pairs.size}, ${cells.mkString(", ")}) " +
        "AS (col_a, col_b, n, r_micro)"))
  }

  /** Lagged cross-correlation of two daily event series — "do error
    * spikes precede purchase drops, and by how many days": Pearson r
    * between series A at day d and series B at day d+lag, for each lag
    * in [0, maxLag]. Pairs exist only for days where BOTH series have
    * an aligned observation (missing days drop from that lag's n, the
    * pairwise-complete rule of [[correlationMatrix]] — whose exact
    * integer-accumulator arithmetic this reuses at the day grain, where
    * everything is tiny).
    *
    * Inputs are `(dayCol: yyyy-MM-dd string, valueCol)` daily tables —
    * [[ewmaAnomalyDaily]]'s shape, so stream-materialized counts feed
    * straight in.
    *
    * Output: `(lag, n, r_micro)` for each lag, null r on zero
    * variance.
    */
  def crossCorrelation(seriesA: DataFrame, seriesB: DataFrame,
                       dayCol: String, valueCol: String,
                       maxLag: Int = 7): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0: $maxLag")
    val a = seriesA.select(
      datediff(to_date(col(dayCol)), lit("1970-01-01")).as("_idx"),
      col(valueCol).cast("double").as("_a"))
    val b = seriesB.select(
      datediff(to_date(col(dayCol)), lit("1970-01-01")).as("_bidx"),
      col(valueCol).cast("double").as("_b"))
    // lags ride a row-local literal-array explode (maxLag+1 rows per
    // observation) — never a join; the only join is the lag-shifted
    // day equi-join
    val joined = a
      .withColumn("lag", explode(lit((0 to maxLag).toArray)))
      .join(b, col("_bidx") === col("_idx") + col("lag"))
    val uA = (col("_a").cast("decimal(18,4)") * lit(10000)).cast("long")
      .cast("decimal(19,0)")
    val uB = (col("_b").cast("decimal(18,4)") * lit(10000)).cast("long")
      .cast("decimal(19,0)")
    val g = joined
      .select(col("lag"), uA.as("_ua"), uB.as("_ub"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum("_ua").as("_sa"), sum("_ub").as("_sb"),
        sum(col("_ua") * col("_ua")).as("_saa"),
        sum(col("_ub") * col("_ub")).as("_sbb"),
        sum(col("_ua") * col("_ub")).as("_sab"))
    val n = col("n").cast("double")
    val sa = col("_sa").cast("double"); val sb = col("_sb").cast("double")
    val saa = col("_saa").cast("double"); val sbb = col("_sbb").cast("double")
    val sab = col("_sab").cast("double")
    val va = n * saa - sa * sa
    val vb = n * sbb - sb * sb
    g.select(col("lag"), col("n"),
      when(va > 0 && vb > 0,
        round(round((n * sab - sa * sb) / sqrt(va * vb), 6) * lit(1e6), 0)
          .cast("long")).as("r_micro"))
  }

  /** Key-skew report — the pre-join diagnostic that tells you whether
    * [[graft.ops.Skew]] salting is needed BEFORE the 100 TB shuffle
    * stalls on one task: top-N heaviest keys with their share of the
    * table, plus the table-level skew ratio (`max/mean` group size).
    * One map-side-combined contraction to key grain, a TakeOrdered
    * top-N, and a single-row total riding a broadcast.
    *
    * Output: `(key, n, share_micro, skew_ratio_micro)` for the top-N
    * keys by `(n DESC, key)` — `skew_ratio_micro` (same value every
    * row) is `n_max / mean_group_size` in micro-units.
    */
  def keySkewReport(df: DataFrame, keyCol: String, topN: Int = 10): DataFrame = {
    require(topN >= 1, s"topN must be >= 1: $topN")
    val grouped = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"))
    val tot = grouped.agg(sum("n").as("_rows"), count(lit(1)).as("_groups"),
      max("n").as("_max"))
    grouped.crossJoin(broadcast(tot))
      .withColumn("share_micro",
        round(round(col("n").cast("double") / col("_rows"), 6) * lit(1e6), 0)
          .cast("long"))
      .withColumn("skew_ratio_micro",
        round(round(col("_max").cast("double") * col("_groups") / col("_rows"), 6)
          * lit(1e6), 0).cast("long"))
      .select(col("key"), col("n"), col("share_micro"), col("skew_ratio_micro"))
      .orderBy(col("n").desc, col("key"))
      .limit(topN)
  }

  /** EWMA anomaly detection over per-key daily counts — the volume
    * monitor for an ingest stream (did `error` events triple today?).
    * Each day's count is compared against an exponentially-weighted
    * moving average of the PRIOR `horizonDays` observed days (half-life
    * one day: weight 2^-k at lag k).
    *
    * Determinism: the weighted sums are EXACT BIGINT arithmetic — the
    * lag-k weight is the integer `2^(horizon-k)` (a bit shift, no float
    * pow), so `wsum = Σ n_i·2^(horizon-k)` and `wtot = Σ 2^(horizon-k)`
    * are order-free integer sums; the only float op is one final
    * division, the same IEEE op on every engine. The anomaly flag
    * itself is pure integer arithmetic (`n·1e6 > ratio·pred_micro`).
    * Overflow bound: daily counts up to ~2^43 at the default horizon 20.
    *
    * Days with no events are ABSENT, not zero: the average is over
    * observed days (the weights renormalize via `wtot`), so a sparse key
    * is judged against its own cadence. The first observed day of a key
    * has no prior window → `pred_micro` null, `is_anomaly` false.
    *
    * Scale shape: one map-side-combined aggregation collapses the corpus
    * to (key, day) grain — everything after runs on ≤ keys×days rows,
    * where the lag join is a self-equi-join on the key with a bounded
    * range predicate. At daily grain this table is tiny at any corpus
    * size; nothing downstream scales with the event count.
    *
    * Output: `(keyCol, day, n, pred_micro, is_anomaly)`.
    */
  def ewmaAnomaly(events: DataFrame, keyCol: String, tsCol: String,
                  horizonDays: Int = 20, ratio: Long = 2L): DataFrame =
    ewmaAnomalyDaily(
      events.groupBy(col(keyCol),
          date_format(col(tsCol), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n")),
      keyCol, "day", "n", horizonDays, ratio)

  /** [[ewmaAnomaly]] over an ALREADY-AGGREGATED daily count table —
    * the entry point for incrementally-maintained counts (e.g. a
    * Structured Streaming windowed aggregation materialized to a sink):
    * the monitor then never rescans events, and stream-fed output is
    * bit-identical to the batch path over the same days (q162 holds it
    * to q144's oracle).
    */
  def ewmaAnomalyDaily(dailyCounts: DataFrame, keyCol: String,
                       dayCol: String, nCol: String,
                       horizonDays: Int = 20, ratio: Long = 2L,
                       strideDays: Int = 1): DataFrame = {
    require(horizonDays >= 1 && horizonDays <= 62,
      s"horizonDays must be in [1, 62]: $horizonDays")
    require(ratio >= 1L, s"ratio must be >= 1: $ratio")
    require(strideDays >= 1 && horizonDays % strideDays == 0,
      s"strideDays must divide horizonDays: $strideDays / $horizonDays")
    // strideDays = 7 gives the SEASONAL variant: a Monday is judged
    // only against prior Mondays (weekday-matched lags 7, 14, ...),
    // which un-flags ordinary weekly rhythm that the stride-1 monitor
    // would read as anomalies. Weight exponent counts STRIDE STEPS, so
    // the half-life is one stride.
    val daily = dailyCounts
      .select(col(keyCol), col(dayCol).as("day"), col(nCol).cast("long").as("n"))
      .withColumn("_idx", datediff(to_date(col("day")), lit("1970-01-01")))
    val cur = daily.select(col(keyCol).as("_k"), col("day"), col("n"), col("_idx"))
    val prior = daily.select(col(keyCol).as("_pk"), col("n").as("_pn"),
      col("_idx").as("_pidx"))
    val steps = horizonDays / strideDays
    cur.join(prior,
        col("_k") === col("_pk") &&
          col("_pidx") >= col("_idx") - horizonDays &&
          col("_pidx") <= col("_idx") - 1 &&
          (col("_idx") - col("_pidx")) % strideDays === 0, "left")
      .withColumn("_w",
        expr(s"shiftleft(1L, $steps - (_idx - _pidx) div $strideDays)"))
      .groupBy(col("_k"), col("day"), col("n"))
      .agg(sum(col("_pn") * col("_w")).as("_wsum"), sum(col("_w")).as("_wtot"))
      .withColumn("pred_micro",
        round(round(col("_wsum").cast("double") / col("_wtot"), 6) * lit(1e6), 0)
          .cast("long"))
      .select(col("_k").as(keyCol), col("day"), col("n"), col("pred_micro"),
        coalesce(col("n") * lit(1000000L) > lit(ratio) * col("pred_micro"),
          lit(false)).as("is_anomaly"))
  }
}
