package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The epoch-tree store behind the persisted corpus indexes:
  * [[graft.operators.TextIndex]] (`sides` = `postings, meta`) and
  * [[graft.operators.IvfIndex]] (`sides` = `lists`). Each index keeps
  * only its own format — what a side's rows are and how trees merge —
  * and passes its writes in as functions; the commit, tombstone,
  * compaction and sweep protocol lives here once.
  *
  * Layout under `path`:
  *   - `<side>/` for each side — the BASE tree, built by the index's
  *     `write`;
  *   - `epochs/<e>/<side>/` — one tree per append (`e` =
  *     `<count>-<uuid8>`, or a caller's deterministic id such as a
  *     streaming micro-batch's `batch-<n>`) or per compaction
  *     (`compact-<uuid8>`);
  *   - `tombstones/<e>/` — one delete set per delete;
  *   - `_bootstrap_batch` — the micro-batch id that built the base when a
  *     stream bootstrapped the index ([[ingest]]).
  *
  * The rules, the same for every index:
  *  - '''Writes go in `sides` order.''' The base and every ordinary epoch
  *    are committed iff every side carries Spark's `_SUCCESS`, so the last
  *    side's `_SUCCESS` is the commit point: a crash mid-write leaves the
  *    tree invisible. A rebuild or a deterministic epoch's replay uncommits
  *    (drops that marker) before it rewrites.
  *  - '''A `compact-*` epoch commits through its `_MERGED` manifest''' on
  *    the first side, written last by atomic rename and naming the trees
  *    and `tombstones/<e>` epochs it replaced. A crash before the rename
  *    leaves an orphan no reader can see (reclaimed by the next sweep);
  *    after it, the replaced trees are already invisible.
  *  - '''A tombstone epoch commits with its `_SUCCESS`''' and is retired
  *    only by a manifest of a FULL compaction (nothing protected by
  *    `keepLatest`): a protected epoch may still hold rows of a deleted
  *    id, and retiring its tombstone would resurrect them.
  *  - '''Every commit stamps''' [[IndexMetaCache]], so cached planning
  *    facts of the old state die with it.
  *  - '''Maintenance does not race itself''': compaction and sweeps run
  *    between appends; probes may run concurrently given a sweep grace.
  *
  * [[EpochStore]] (the streaming state stores) is the same protocol over a
  * different layout — `<side>/batch=<e>` with no base tree, no tombstones
  * and no sweep grace — and stays separate: folding it in would change one
  * of the two on-disk formats.
  */
private[graft] final case class IndexTrees(path: String, sides: Seq[String]) {
  import IndexTrees._
  require(sides.nonEmpty, "an index needs at least one side")

  private def fs(spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One side of tree `id` ([[Base]] or an epoch id). */
  def treeDir(id: String, side: String): String =
    if (id == Base) s"$path/$side" else s"$path/epochs/$id/$side"

  def epochDir(id: String): String = s"$path/epochs/$id"

  def tombstoneDir(e: String): String = s"$path/tombstones/$e"

  /** The commit marker of compact epoch `id`. */
  def manifest(id: String): Path = new Path(s"${treeDir(id, sides.head)}/_MERGED")

  private def subdirs(spark: SparkSession, dir: String): Seq[String] = {
    val root = new Path(dir)
    val f = fs(spark)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Every epoch directory, committed or not, sorted (zero-padded ids:
    * lexicographic = append order).
    */
  def rawEpochs(spark: SparkSession): Seq[String] = subdirs(spark, s"$path/epochs")

  private def rawTombstones(spark: SparkSession): Seq[String] = subdirs(spark, s"$path/tombstones")

  /** A fresh epoch id: the count prefix orders epochs, the uuid part keeps
    * a crashed append from colliding with its retry.
    */
  def newEpochId(spark: SparkSession): String = mint(rawEpochs(spark).size)

  private def newTombstoneId(spark: SparkSession): String = mint(rawTombstones(spark).size)

  private def committed(f: FileSystem, id: String): Boolean =
    if (isCompact(id)) f.exists(manifest(id))
    else sides.forall(s => f.exists(new Path(s"${treeDir(id, s)}/_SUCCESS")))

  /** (live trees, live tombstone epochs), read from the FS: the base and
    * the committed epochs in that order, and the committed tombstone
    * epochs, minus everything a committed manifest names.
    */
  def liveNow(spark: SparkSession): (Seq[String], Seq[String]) = {
    val f = fs(spark)
    val epochs = rawEpochs(spark)
    val dead = epochs.filter(isCompact).map(manifest).filter(f.exists).flatMap(readLines(f, _)).toSet
    val trees = (Base +: epochs).filter(t => !dead(t) && committed(f, t))
    val tombs = rawTombstones(spark).filter(e => !dead(TombPrefix + e) &&
      f.exists(new Path(s"${tombstoneDir(e)}/_SUCCESS")))
    (trees, tombs)
  }

  /** [[liveNow]], cached per index state (the root's FS signature; every
    * commit stamps). One signature walk per call — a probe that needs more
    * planning facts caches them with [[liveNow]] under one kind of its own.
    */
  def live(spark: SparkSession): (Seq[String], Seq[String]) =
    IndexMetaCache.getOrCompute(spark, path, "trees.live")(liveNow(spark))

  def liveTrees(spark: SparkSession): Seq[String] = live(spark)._1

  /** Drop the commit marker of tree `id` (its last side's `_SUCCESS`). */
  private def uncommit(spark: SparkSession, id: String): Unit =
    fs(spark).delete(new Path(s"${treeDir(id, sides.last)}/_SUCCESS"), false)

  /** Write tree `id` (the base, or an ordinary epoch) through
    * `write(side, dir)`, one call per side in `sides` order, after
    * uncommitting it; then stamp. An epoch whose first side holds no
    * partition directory — a zero-row write, whose missing footers would
    * poison every later schema inference — is deleted instead and nothing
    * is committed: an empty append is a no-op. Detected by one FS listing
    * after the write, so a non-empty append pays no extra Spark job.
    * Returns whether the tree was committed.
    */
  def writeTree(spark: SparkSession, id: String)(write: (String, String) => Unit): Boolean = {
    uncommit(spark, id)
    write(sides.head, treeDir(id, sides.head))
    val f = fs(spark)
    val data = new Path(treeDir(id, sides.head))
    val kept = id == Base ||
      (f.exists(data) && f.listStatus(data).exists(st => st.isDirectory && st.getPath.getName.contains("=")))
    if (!kept) f.delete(new Path(epochDir(id)), true)
    else {
      sides.tail.foreach(s => write(s, treeDir(id, s)))
      IndexMetaCache.stamp(spark, path)
    }
    kept
  }

  /** Commit `rows` as one tombstone epoch (`epochId`, or a fresh id). An
    * empty delete is a no-op: a one-file write of an empty frame would
    * leave a pointless epoch, so this checks up front (one scheduling
    * round; deletes are rare).
    */
  def writeTombstones(rows: DataFrame, epochId: Option[String] = None): Unit =
    if (!rows.isEmpty) {
      val spark = rows.sparkSession
      rows.coalesce(1).write.mode("overwrite")
        .parquet(tombstoneDir(epochId.getOrElse(newTombstoneId(spark))))
      IndexMetaCache.stamp(spark, path)
    }

  /** The rows of tombstone epochs `epochs` as written (an id deleted twice
    * appears twice; an anti-join needs no dedupe), or None. The schema is
    * the index's own and fixed, so the read infers nothing and lists on the
    * driver: no Spark job to plan it.
    */
  def readTombstones(spark: SparkSession, epochs: Seq[String], schema: String): Option[DataFrame] =
    if (epochs.isEmpty) None
    else Some(ProbePlanning.withDriverListing(spark) { ss =>
      ss.read.schema(schema).parquet(epochs.map(tombstoneDir): _*)
    })

  /** Consolidate the live trees into one `compact-*` epoch. `keepLatest >
    * 0` leaves the newest N ordinary epochs out of the merge: a streaming
    * ingester compacts with 1, so the epoch of a micro-batch not yet past
    * its checkpoint is never folded away and a replay rewrites only itself.
    * Tombstones are applied and retired only when nothing is protected.
    * `write(trees, tombstones, cpt)` writes epoch `cpt`'s sides from the
    * replaced trees minus the tombstoned rows; the manifest then commits
    * it. `sweep = false` stops after the commit (the crash-mid-sweep
    * state). `sweepGraceMs` is [[sweepMerged]]'s grace.
    */
  def compact(spark: SparkSession, keepLatest: Int, sweep: Boolean, sweepGraceMs: Long)(
      write: (Seq[String], Seq[String], String) => Unit): Unit = {
    val (all, liveTombs) = live(spark)
    val protect = all.filter(t => t != Base && !isCompact(t)).takeRight(keepLatest).toSet
    val trees = all.filterNot(protect)
    val tombs = if (protect.isEmpty) liveTombs else Seq.empty
    if (trees.size > 1 || (trees.nonEmpty && tombs.nonEmpty)) {
      val cpt = s"$CompactPrefix${uuid8()}"
      write(trees, tombs, cpt)
      val f = fs(spark)
      val tmp = new Path(s"${manifest(cpt)}.tmp")
      val out = f.create(tmp, true)
      try out.write((trees ++ tombs.map(TombPrefix + _)).mkString("\n").getBytes("UTF-8"))
      finally out.close()
      f.rename(tmp, manifest(cpt))
      IndexMetaCache.stamp(spark, path)
    }
    if (sweep) sweepMerged(spark, sweepGraceMs)
  }

  /** Delete what committed manifests replaced — once the manifest has aged
    * `graceMs` (a probe planned against the old trees may still be scanning
    * them; they are invisible to new plans regardless) — and every orphaned
    * pre-manifest compact epoch, which no reader can have planned against.
    *
    * ORDERING INVARIANT: a replaced COMPACT tree is deleted only once every
    * tree its own manifest names is gone. That manifest is the only record
    * keeping those trees dead; deleting it while a grace window still
    * defers them would resurrect them beside their consolidated copy.
    * Manifests are processed oldest-first, so one fully-aged sweep settles
    * a whole chain; anything still guarded waits for a later sweep.
    */
  def sweepMerged(spark: SparkSession, graceMs: Long): Unit = {
    val f = fs(spark)
    val now = System.currentTimeMillis()
    def dirOf(id: String): String =
      if (id == Base) treeDir(Base, sides.head)
      else if (id.startsWith(TombPrefix)) s"$path/$id"
      else epochDir(id)
    def gone(id: String): Boolean = !f.exists(new Path(dirOf(id)))
    def drop(id: String): Unit =
      if (id == Base) sides.foreach(s => f.delete(new Path(treeDir(Base, s)), true))
      else f.delete(new Path(dirOf(id)), true)
    val compacts = rawEpochs(spark).filter(isCompact)
    val manifests = compacts.map(manifest).filter(f.exists)
      .map(m => (m, f.getFileStatus(m).getModificationTime)).sortBy(_._2)
    for ((m, mtime) <- manifests if graceMs <= 0L || now - mtime >= graceMs)
      readLines(f, m).foreach { id =>
        if (!isCompact(id) || !f.exists(manifest(id)) || readLines(f, manifest(id)).forall(gone))
          drop(id)
      }
    compacts.filterNot(e => f.exists(manifest(e))).foreach(drop)
  }

  /** One streaming-ingest decision: bootstrap on an index with no live
    * trees, else `append` under the deterministic epoch id of `batchId`.
    *
    * Bootstrap replay safety: the batch id that builds the base is recorded
    * in a `_bootstrap_batch` marker BEFORE the build, so a replay of that
    * batch (base committed, checkpoint not yet advanced) re-bootstraps —
    * a full, idempotent overwrite — instead of appending itself as an epoch
    * and double-serving. Liveness is the commit-marker-aware [[liveTrees]],
    * never directory existence: a half-built base is invisible and
    * re-bootstraps cleanly, and a compacted-away base (epochs live) appends.
    */
  def ingest(spark: SparkSession, batchId: Long)(bootstrap: => Unit)(append: String => Unit): Unit = {
    val f = fs(spark)
    val marker = new Path(s"$path/_bootstrap_batch")
    val bootBatch =
      if (!f.exists(marker)) None else Some(readLines(f, marker).mkString.trim.toLong)
    val trees = liveTrees(spark)
    if (trees.isEmpty || bootBatch.contains(batchId)) {
      // A genuine bootstrap replay (crash between write() and checkpoint
      // commit) can never have committed epochs yet. Epochs + a matching
      // marker means a FRESH checkpoint was pointed at a populated index:
      // re-writing the base here would silently serve new-base + stale
      // epochs. Fail loudly instead.
      val epochs = trees.filterNot(_ == Base)
      require(epochs.isEmpty,
        s"refusing to re-bootstrap '$path' at batch $batchId: committed " +
          s"epochs ${epochs.mkString(", ")} are live — this looks like a fresh " +
          "checkpoint over a populated index; use a new indexPath or compact " +
          "and remove the _bootstrap_batch marker to adopt the existing index")
      val out = f.create(marker, true)
      try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
      bootstrap
    } else append(f"batch-$batchId%08d")
  }
}

private[graft] object IndexTrees {

  /** The id of the base tree, as manifests name it. */
  val Base = "base"

  private val CompactPrefix = "compact-"
  private val TombPrefix = "tombstones/"

  def isCompact(id: String): Boolean = id.startsWith(CompactPrefix)

  /** (kind, per-kind ordinal in committed order) of each tree, kind =
    * `base` | `epoch` | `compact` — the tree rows of an index's `describe`.
    */
  def kinds(trees: Seq[String]): Seq[(String, Long)] = {
    def kindOf(t: String) = if (t == Base) "base" else if (isCompact(t)) "compact" else "epoch"
    trees.zipWithIndex.map { case (t, i) =>
      (kindOf(t), trees.take(i).count(kindOf(_) == kindOf(t)).toLong)
    }
  }

  private def uuid8(): String = java.util.UUID.randomUUID.toString.take(8)

  private def mint(count: Int): String = f"$count%08d-${uuid8()}"

  private def readLines(f: FileSystem, p: Path): List[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }
}
