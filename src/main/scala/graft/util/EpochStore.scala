package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared epoch-commit protocol behind the streaming state stores
  * (block dedup, drift monitor, near-dup admission, curation funnel).
  *
  * State accretes as `<side>/batch=<epoch>` parquet directories, one set
  * of sides per micro-batch decision. The rules every store shares:
  *
  *  - '''Write order is `sides` order.''' An ordinary epoch is committed
  *    iff EVERY side carries Spark's `_SUCCESS` marker, so the LAST
  *    side's `_SUCCESS` is the commit point: a crash mid-epoch leaves
  *    some side unmarked and the whole epoch invisible and replayable.
  *  - '''Uncommit is reverse write order.''' A replaying batch deletes
  *    its own epoch commit-side-first, so a crash mid-uncommit still
  *    leaves the epoch uncommitted, never half-served.
  *  - '''Compaction commits via a manifest, not `_SUCCESS`.''' The
  *    consolidated `compact-<uuid>` epoch's parquet writes land BEFORE
  *    its atomic `_MERGED` manifest (on the FIRST side, via temp-file
  *    rename, naming the epochs it replaced) — gating a compact epoch on
  *    `_SUCCESS` would double-serve the olds it copied during the crash
  *    window. A crash before the rename leaves an orphaned compact epoch
  *    that can never become visible (reclaimed by the next sweep); after
  *    the rename, the replaced directories are already invisible and the
  *    sweep is best-effort cleanup.
  *  - '''Maintenance never races itself''' (documented contract of every
  *    store): compaction runs between triggers or with the stream
  *    stopped, and only sweeps after committing its own manifest.
  *
  * Stores differ only in their side names, per-side consolidation
  * transform (e.g. a distinct hash set vs an additive count delta), and
  * whether replays key epochs deterministically (needing `keepLatest` to
  * protect un-checkpointed epochs from merging) or uniquely per decision
  * (safe to merge everything).
  *
  * The persisted corpus indexes run the same rules through [[IndexTrees]]
  * instead: their layout is `epochs/<e>/<side>` beside a BASE tree, with
  * tombstone epochs and a sweep grace for concurrent probes, none of which
  * this layout has. Merging the two would change one on-disk format.
  */
final case class EpochStore(storeDir: String, sides: Seq[String]) {
  require(sides.nonEmpty, "an epoch store needs at least one side")

  /** The side holding each compact epoch's `_MERGED` manifest. */
  private def markerSide: String = sides.head

  def sideDir(side: String, epoch: String): String =
    s"$storeDir/$side/batch=$epoch"

  /** The committed parquet paths of one side for the given epochs. */
  def sidePaths(epochs: Seq[String], side: String): Seq[String] =
    epochs.map(sideDir(side, _))

  private def fsOf(spark: SparkSession): FileSystem =
    new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every epoch directory present on the marker side, committed or not,
    * sorted (epoch ids are zero-padded, so lexicographic = batch order).
    */
  def rawEpochs(spark: SparkSession): Seq[String] = {
    val root = new Path(s"$storeDir/$markerSide")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch="))
      .sorted
  }

  /** Epoch ids named by the `_MERGED` manifest of any committed compact
    * epoch — replaced, therefore invisible.
    */
  def mergedEpochs(spark: SparkSession): Set[String] = {
    val fs = fsOf(spark)
    rawEpochs(spark).flatMap { e =>
      val m = new Path(s"${sideDir(markerSide, e)}/_MERGED")
      if (!fs.exists(m)) Seq.empty
      else {
        val in = fs.open(m)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
    }.toSet
  }

  /** Committed, un-retired epochs: ordinary epochs need every side's
    * `_SUCCESS`; compact epochs need their `_MERGED` manifest; anything a
    * committed manifest names is dead.
    */
  def committedEpochs(spark: SparkSession): Seq[String] = {
    val fs = fsOf(spark)
    val dead = mergedEpochs(spark)
    rawEpochs(spark)
      .filter { e =>
        if (e.startsWith("compact-"))
          fs.exists(new Path(s"${sideDir(markerSide, e)}/_MERGED"))
        else sides.forall(s => fs.exists(new Path(s"${sideDir(s, e)}/_SUCCESS")))
      }
      .filterNot(dead)
  }

  /** Delete one epoch on every side, commit side first (reverse write
    * order), so a crash mid-uncommit leaves the epoch uncommitted.
    */
  def uncommitEpoch(spark: SparkSession, epoch: String): Unit = {
    val fs = fsOf(spark)
    sides.reverse.foreach(s => fs.delete(new Path(sideDir(s, epoch)), true))
  }

  /** One side's committed rows (union over committed epochs), or None if
    * the store is empty. Multi-side stores that must read a CONSISTENT
    * epoch set across sides should take [[committedEpochs]] once and use
    * [[sidePaths]] instead.
    */
  def readSide(spark: SparkSession, side: String): Option[DataFrame] = {
    val epochs = committedEpochs(spark)
    if (epochs.isEmpty) None
    else Some(spark.read.parquet(sidePaths(epochs, side): _*))
  }

  /** Consolidate the committed epochs into one `compact-*` epoch of
    * `targetFiles` files per side. `consolidate(side, union)` is each
    * side's merge transform (identity for pure unions; a distinct or a
    * re-aggregation where the side is a set or an additive delta).
    * `keepLatest > 0` excludes the newest N ordinary epochs — REQUIRED
    * (>= 1) while a deterministically-keyed stream is live, so an epoch
    * still inside the streaming checkpoint's uncommitted window is never
    * merged out from under its own replay. `sweep = false` stops after
    * the manifest commit (the crash-mid-sweep state the specs exercise).
    */
  def compact(
      spark: SparkSession,
      targetFiles: Int,
      sweep: Boolean,
      keepLatest: Int)(consolidate: (String, DataFrame) => DataFrame): Unit = {
    val committed = committedEpochs(spark)
    val protectSet = committed.filterNot(_.startsWith("compact-"))
      .sorted.takeRight(keepLatest).toSet
    val olds = committed.filterNot(protectSet)
    if (olds.size > 1) {
      val cpt = s"compact-${java.util.UUID.randomUUID.toString.take(8)}"
      sides.foreach { side =>
        consolidate(side, spark.read.parquet(sidePaths(olds, side): _*))
          .coalesce(targetFiles)
          .write.mode("overwrite").parquet(sideDir(side, cpt))
      }
      // the commit point, atomic via rename: once the manifest exists the
      // olds are dead; a partial manifest would resurrect half of them
      val fs = fsOf(spark)
      val tmp = new Path(s"${sideDir(markerSide, cpt)}/_MERGED.tmp")
      val out = fs.create(tmp, true)
      try out.write(olds.mkString("\n").getBytes("UTF-8")) finally out.close()
      fs.rename(tmp, new Path(s"${sideDir(markerSide, cpt)}/_MERGED"))
    }
    if (sweep) sweepMerged(spark)
  }

  /** Delete directories a committed manifest replaced, plus any orphaned
    * pre-manifest compact epoch (invisible either way; best-effort).
    */
  def sweepMerged(spark: SparkSession): Unit = {
    val fs = fsOf(spark)
    def dropAllSides(e: String): Unit =
      sides.foreach(s => fs.delete(new Path(sideDir(s, e)), true))
    mergedEpochs(spark).foreach(dropAllSides)
    rawEpochs(spark)
      .filter(e => e.startsWith("compact-") &&
        !fs.exists(new Path(s"${sideDir(markerSide, e)}/_MERGED")))
      .foreach(dropAllSides)
  }
}
