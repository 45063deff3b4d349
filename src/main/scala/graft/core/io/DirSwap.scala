package graft.core.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** The crash-safe replacement of a whole directory — the one protocol
  * behind compaction, z-order compaction, the streaming clusters base,
  * the SCD2 dimension and the stats-manifest full rewrite:
  *
  *  1. the replacement is written to the hidden `staged` path;
  *  2. the `live` directory is moved aside to `aside`;
  *  3. `staged` is renamed in as `live` — REFUSED when `live` exists
  *     again (a concurrent [[heal]] put the aside copy back): Hadoop's
  *     `rename` onto an existing directory nests the source inside it
  *     and still returns true, so renaming on would bury the new copy
  *     where no reader looks while the caller's cleanup runs on;
  *  4. the aside copy is dropped.
  *
  * A crash between 2 and 3 leaves the only copy at `aside`, which
  * readers skip (hidden name). [[heal]] puts it back — Hadoop FS calls
  * only, no Spark job — so every reader of a swapped directory heals
  * before it lists, and every writer [[open]]s (heal, then drop a stale
  * staged or aside copy) before it reads. After any crash the live
  * directory holds the state before the rewrite or after it.
  *
  * Every mutation goes through [[CrashSeam.step]].
  */
private[graft] final case class DirSwap(fs: FileSystem, live: Path,
                                        staged: Path, aside: Path) {
  import CrashSeam.step

  /** Restore an aside copy orphaned between move-aside and rename-in.
    * Safe for readers: it never drops anything. Returns whether `live`
    * exists afterwards.
    */
  def heal(): Boolean = fs.exists(live) || fs.exists(aside) && {
    step(s"restore $live")(require(fs.rename(aside, live),
      s"could not restore $live from $aside"))
    true
  }

  /** The writer's heal: [[heal]], then drop what a crashed or refused
    * swap left at `staged` and `aside` (stale once `live` is healed).
    * Returns whether `live` exists.
    */
  def open(): Boolean = {
    val present = heal()
    Seq(staged, aside).foreach(p =>
      if (fs.exists(p)) step(s"drop $p")(fs.delete(p, true): Unit))
    present
  }

  /** Replace `live` with what `write` puts at the path it is given (the
    * staged path); returns what `write` returns. Call [[open]] first.
    */
  def replace[T](write: Path => T): T = {
    val out = step(s"stage $staged")(write(staged))
    val had = fs.exists(live)
    if (had) step(s"move aside $live")(require(fs.rename(live, aside),
      s"could not move $live aside"))
    step(s"rename in $live") {
      if (fs.exists(live)) throw new IllegalStateException(
        s"$live reappeared during its swap (a concurrent reader healed " +
          s"it); the new copy stays at $staged and is dropped on the next open")
      if (!fs.rename(staged, live)) {
        heal()
        sys.error(s"could not rename $staged in as $live; original restored")
      }
    }
    if (had) step(s"drop aside $aside")(fs.delete(aside, true): Unit)
    out
  }
}

private[graft] object DirSwap {

  /** The swap of `live` through hidden siblings `.<name><tag>_tmp` and
    * `.<name><tag>_old`.
    */
  def hidden(fs: FileSystem, live: Path, tag: String): DirSwap = {
    def sib(kind: String) = new Path(live.getParent, s".${live.getName}${tag}_$kind")
    DirSwap(fs, live, sib("tmp"), sib("old"))
  }
}

/** Test seam shared by the crash-safety protocols ([[DirSwap]] and
  * [[graft.ops.IndexStore]]): called with a step label before every
  * catalog or file mutation, so a spec can crash at any step.
  */
private[graft] object CrashSeam {
  @volatile private[graft] var onStep: String => Unit = _ => ()

  def step[T](label: String)(body: => T): T = { onStep(label); body }
}
