package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{broadcast, col}
import graft.core.Checkpoints
import graft.core.io.{CrashSeam, Maintenance, Writer}

/** The GDPR lifecycle every persisted index family shares — fingerprint,
  * near-dup (word and token grain), BM25, PQ and IVF-clustered. A family
  * supplies only its payload (table names, key column, row derivation);
  * the protocol lives here, once:
  *
  *  - TOMBSTONE-first forgetting: [[vacuum]] appends the visible keys it
  *    matches to a small tombstone set (a catalog table, or a parquet
  *    path for the path-grain families) — write cost ~deleted keys, zero
  *    index-file rewrites — and every read goes through [[hide]], a
  *    BROADCAST anti-join. A broadcast join preserves the streamed side's
  *    output partitioning and scan shape, so the zero-exchange
  *    co-bucketed pairing join and bucket/partition pruning all survive a
  *    vacuum. The tombstone set is the forget backlog, bounded by the
  *    [[compact]] cadence.
  *  - [[compact]] scrubs physically: catalog tables by a per-table gated
  *    staged rewrite, path data by [[graft.core.io.Maintenance
  *    .deleteMatching]] (whose manifest protocol owns its crash
  *    recovery); the tombstones drop last, so a crash before that drop
  *    just re-runs a no-op rewrite.
  *  - every catalog or file mutation goes through
  *    [[graft.core.io.CrashSeam.step]], the crash seam it shares with
  *    [[graft.core.io.DirSwap]];
  *  - every catalog rewrite is a STAGED swap (write `<t>_vac`, DROP `t`,
  *    RENAME), and [[open]] heals a crash at any step: a `_vac`
  *    whose original is missing rolls FORWARD, one whose original is
  *    present rolls BACK — [[graft.core.io.Maintenance.deleteMatching]]'s
  *    rule at catalog grain. The one-row `summary` table (BM25's meta, an
  *    exact recount of the stored rows) instead rolls forward also when
  *    the tombstones are gone: the crash fell after compact's tombstone
  *    drop, so the recount is the truth; while tombstones remain, reads
  *    stay consistent on `old summary − Σ tombstones` and the next
  *    compact redoes the recount.
  *  - appends are AT-LEAST-ONCE ([[append]]): rows whose key a table
  *    already holds are anti-joined away first, so a crashed batch is
  *    repaired by re-running it. Appending a TOMBSTONED key fails loudly
  *    ([[requireNotTombstoned]]): new rows under a hidden key would stay
  *    hidden, and un-hiding it would resurrect the forgotten rows.
  *  - [[open]] also refreshes this session's cached listing of every
  *    catalog table: another session (a stream's micro-batch clone, a
  *    second driver) may have appended since, and a compact planned over
  *    a stale listing would rewrite the index WITHOUT those rows.
  *
  * @param key        the id column tombstones and appends match on
  * @param tombstones the tombstone table, or its parquet path when
  *                   `dataDir` is set
  * @param tables     the catalog data tables (bucketed; rewrites and
  *                   appends reuse each table's own catalog bucket spec)
  * @param aux        further catalog tables reads depend on: refreshed
  *                   on open, never rewritten
  * @param dataDir    the data root of a path-grain family
  * @param summary    a one-row table and its exact recount (BM25's meta)
  */
private[graft] final case class IndexStore(
    spark: SparkSession, key: String, tombstones: String,
    tables: Seq[String] = Nil, aux: Seq[String] = Nil,
    dataDir: Option[String] = None,
    summary: Option[(String, () => DataFrame)] = None) {
  import CrashSeam.step

  private def exists(t: String): Boolean = spark.catalog.tableExists(t)
  private def tsPath = new Path(tombstones)
  private def fs = tsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def sql(stmt: String): Unit = step(stmt)(spark.sql(stmt): Unit)

  /** Heal any crashed staged swap, then refresh this session's cached
    * table listings. Run before trusting any table; cost is a few
    * catalog calls, no Spark job and no file listing.
    */
  def open(): this.type = {
    def heal(t: String, forward: => Boolean): Unit = {
      val vac = s"${t}_vac"
      if (exists(vac)) {
        if (exists(t) && !forward) sql(s"DROP TABLE $vac")
        else {
          if (exists(t)) sql(s"DROP TABLE $t")
          sql(s"ALTER TABLE $vac RENAME TO $t")
        }
      }
    }
    val tsTable = if (dataDir.isEmpty) Seq(tombstones) else Nil
    (tables ++ tsTable).foreach(heal(_, forward = false))
    summary.foreach(s => heal(s._1, forward = !tombstonesExist))
    // drop the cached relations, not just re-list them: the next read
    // resolves the table afresh (location and files) and lists it once
    (tables ++ aux ++ summary.map(_._1) ++ tsTable).foreach(t =>
      spark.sessionState.catalog.refreshTable(TableIdentifier(t)))
    this
  }

  /** The tombstone rows, or None when no forget is pending (zero overhead
    * on a never-vacuumed index).
    */
  def tombstoneRows: Option[DataFrame] = Option.when(tombstonesExist)(
    if (dataDir.isEmpty) spark.table(tombstones) else spark.read.parquet(tombstones))

  private def tombstonesExist: Boolean =
    if (dataDir.isEmpty) exists(tombstones) else fs.exists(tsPath)

  /** `df` minus tombstoned keys — the canonical index read. */
  def hide(df: DataFrame, ts: Option[DataFrame] = tombstoneRows): DataFrame =
    ts.fold(df)(t => df.join(broadcast(t.select(col(key).as("_ts_key"))),
      df(key) === col("_ts_key"), "left_anti"))

  def visible(table: String): DataFrame = hide(spark.table(table))

  /** Tombstone the visible `from` rows whose key is in `ids`' first column
    * — `from` projects the tombstone columns (the key, plus whatever reads
    * must subtract). The semi-join runs BEFORE the distinct, so only
    * matched rows reach its shuffle. `extend` adds family rows to the
    * matched set. Returns the number of rows tombstoned (already
    * tombstoned and never-indexed keys do not count).
    */
  def vacuum(ids: DataFrame, from: DataFrame,
             extend: (DataFrame, DataFrame) => DataFrame = (m, _) => m): Long = {
    val idList = ids.select(col(ids.columns.head).as(key)).distinct()
    val matched = hide(from).join(idList, Seq(key), "left_semi").distinct()
    val materialized = Checkpoints.truncate(extend(matched, idList))
    val removed = materialized.count()
    if (removed > 0) step(s"append $tombstones") {
      if (dataDir.isDefined) materialized.write.mode("append").parquet(tombstones)
      else Writer.writeTable(materialized, tombstones,
        mode = if (exists(tombstones)) SaveMode.Append else SaveMode.Overwrite)
    }
    removed
  }

  /** Physically scrub the tombstoned keys, then drop the tombstones (and
    * swap in the recounted summary). Catalog rewrites are gated per table
    * on THAT table's own tombstone membership: gating them all on one
    * count would let a compact resumed after a crash between two swaps
    * read "nothing to do", drop the tombstones, and leave the forgotten
    * rows of the later tables on disk, unrecorded. The count spans every
    * table for the same reason. Returns the keys (path grain: rows)
    * scrubbed; zero rewrites when no forget is pending.
    */
  def compact(): Long = tombstoneRows.fold(0L) { ts =>
    val idList = ts.select(key).distinct()
    val scrubbed = dataDir match {
      case Some(dir) => step(s"delete from $dir")(
        Maintenance.deleteMatching(spark, dir, key, ts).rowsDeleted)
      case None =>
        def matched(t: String) = spark.table(t).select(key)
          .join(idList, Seq(key), "left_semi")
        val n = tables.map(matched).reduce(_ unionByName _).distinct().count()
        tables.filter(matched(_).take(1).nonEmpty).foreach { t =>
          // a using-column join pulls the key to the front: reselect the
          // declared column order, or the swapped schema silently reorders
          val cols = spark.table(t).columns.map(col)
          swap(t, spark.table(t).join(idList, Seq(key), "left_anti").select(cols: _*))
        }
        n
    }
    // the recount is staged BEFORE the tombstone drop: open() rolls it
    // back while tombstones remain and forward once they are gone
    summary.foreach(s => stage(s._1, s._2()))
    if (dataDir.isEmpty) sql(s"DROP TABLE $tombstones")
    else step(s"delete $tombstones")(fs.delete(tsPath, true): Unit)
    summary.foreach(s => commit(s._1))
    scrubbed
  }

  /** Replace `t` with `rows` through a staged catalog swap. */
  private def swap(t: String, rows: DataFrame): Unit = { stage(t, rows); commit(t) }

  private def stage(t: String, rows: DataFrame): Unit = step(s"write ${t}_vac") {
    bucketSpec(t) match {
      case Some(b) => Writer.writeBucketed(rows, s"${t}_vac", b.bucketColumnNames,
        b.numBuckets)
      case None => Writer.writeTable(rows, s"${t}_vac")
    }
  }

  private def commit(t: String): Unit = {
    sql(s"DROP TABLE $t")
    sql(s"ALTER TABLE ${t}_vac RENAME TO $t")
  }

  /** Swap in the exact summary recount — what makes every append
    * idempotent under replay (a recount, never incremental arithmetic).
    */
  def recount(): Unit = summary.foreach(s => swap(s._1, s._2()))

  /** Drop the tombstones of `keys` (the first column) — re-accepting
    * forgotten content where the key carries no identity (fingerprints).
    */
  def untombstone(keys: DataFrame): Unit = tombstoneRows.foreach(ts =>
    swap(tombstones, Checkpoints.truncate(ts.join(keys, Seq(key), "left_anti"))))

  /** Fail loudly if a key in `ids`' first column is tombstoned: its rows
    * await compaction, so there is no consistent state short of a
    * compact. Broadcast semi-join probe, bounded by the forget backlog.
    */
  def requireNotTombstoned(ids: DataFrame, op: String, compactOp: String): Unit =
    tombstoneRows.foreach { ts =>
      val idCol = ids.columns.head
      val clash = ids.select(col(idCol).as(key)).distinct()
        .join(broadcast(ts.select(key)), Seq(key), "left_semi").take(1)
      require(clash.isEmpty, s"$op: $idCol ${clash.headOption.map(_.get(0))} " +
        s"is tombstoned in $tombstones — run $compactOp before re-ingesting " +
        "a forgotten id")
    }

  /** `rows` minus those whose `rowKey` the `stored` rows already hold —
    * the at-least-once append probe. `assumeFresh`: the caller PROVES the
    * rows were never appended (the streaming lanes' pre-append
    * high-water mark), so the probe — whose cost scales with the INDEX,
    * not the batch — is skipped. Replays must pass false.
    */
  def fresh(rows: DataFrame, stored: DataFrame, assumeFresh: Boolean,
            rowKey: String = key): DataFrame =
    if (assumeFresh) rows
    else rows.join(stored.select(col(key).as(rowKey)).distinct(), Seq(rowKey),
      "left_anti")

  /** At-least-once append into catalog table `t` (see [[fresh]]). */
  def append(t: String, rows: DataFrame, assumeFresh: Boolean): Unit = {
    val b = bucketSpec(t).get
    val out = fresh(rows, spark.table(t), assumeFresh)
    step(s"append $t")(Writer.writeBucketed(out, t, b.bucketColumnNames,
      b.numBuckets, mode = SaveMode.Append))
  }

  /** The bucket count of every data table, read from the CATALOG's bucket
    * spec (not DESCRIBE text — its format is no stable contract).
    */
  def bucketCounts: Seq[Int] = tables.map(t => bucketSpec(t).map(_.numBuckets)
    .getOrElse(sys.error(s"$t exists but is not bucketed — not an index table")))

  /** Fail loudly unless every data table is bucketed `n`-way, as `source`
    * says: appending at a drifted count would corrupt the co-bucketing
    * contract the exchange-free joins and bucket pruning rely on.
    */
  def requireBuckets(n: Int, source: String): Unit =
    tables.zip(bucketCounts).foreach { case (t, nb) =>
      require(nb == n, s"$t is bucketed $nb-way but $source says $n — the " +
        "index is corrupt; rebuild it")
    }

  private def bucketSpec(t: String) = spark.sessionState.catalog
    .getTableMetadata(TableIdentifier(t)).bucketSpec
}

private[graft] object IndexStore {

  /** Drop index tables together with any staged `_vac` copies. */
  def dropTables(spark: SparkSession, tables: Seq[String]): Unit =
    tables.flatMap(t => Seq(t, s"${t}_vac"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
}
