package graft.operators

import org.apache.hadoop.fs.Path

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A PERSISTED inverted text index: the write-once / probe-many form of
  * [[Search.bm25TopK]], which re-tokenizes the whole corpus on every call.
  * The lexical twin of [[IvfIndex]] — at serving scale the corpus scan IS
  * the query cost, so the index materializes the (doc, term, tf, dl)
  * posting rows ONCE into a term-bucket-partitioned parquet layout; a probe
  * then reads only the buckets its query terms hash into — partition
  * pruning visible as `PartitionFilters` on the postings scan, i.e.
  * ~|terms|/nBuckets of the bytes, with no tokenization and no filter
  * evaluation against non-probed buckets at all (TextIndexSpec pins both
  * the pruning and bit-identity with the in-plan operator).
  *
  * Layout under `path`:
  *   - `meta/` — one row (n_buckets, n_docs, sum_dl): the bucket count the
  *     build hashed with (probes MUST reuse it) and the corpus-wide BM25
  *     stats. `avgdl` is reconstructed at probe time as the same
  *     `sum(dl)::double / n_docs` division the in-plan scan performs, so
  *     the scores are bit-identical, not just close.
  *   - `postings/bucket=<b>/` — (doc_id, dl, tf, term): every (document,
  *     term) pair exactly once, `bucket = pmod(xxhash64(term), n_buckets)`.
  *     Document frequency is NOT stored: the probe re-derives it from the
  *     probed rows with the exact aggregate the in-plan scan uses —
  *     [[Search.bm25Score]] is shared, which is what makes the index
  *     bit-transparent rather than approximately equal.
  *   - `epochs/<e>/{postings,meta}/` — appended documents ([[append]]): a
  *     GROWING corpus adds per-epoch posting trees plus a delta meta
  *     (n_docs, sum_dl of just that batch) under the base build's FROZEN
  *     bucket count, instead of full-rebuilding. Probes union the base and
  *     every committed epoch's postings (the bucket predicate pushes into
  *     each tree's scan) and SUM the metas — df, n_docs and avgdl are all
  *     additive, so an appended index answers bit-identically to a full
  *     rebuild over the union (pinned in TextIndexSpec). Commit protocol:
  *     postings are written FIRST, the epoch's meta LAST — the meta
  *     `_SUCCESS` is the commit marker, so a crash mid-append leaves the
  *     epoch invisible; replays with a deterministic `epochId` uncommit
  *     (delete the meta) before rewriting. [[compact]] consolidates the
  *     live trees into one `compact-*` epoch behind an atomic `_MERGED`
  *     manifest — the same maintenance discipline as the IVF index.
  *
  * Cluster notes: the build is one tokenize scan + one partial-aggregated
  * groupBy + a partitioned shuffle write. `nBuckets` should scale with
  * vocabulary size so each bucket directory stays a few hundred MB;
  * `filesPerBucket` is the same skew/parallelism dial as [[IvfIndex]]'s
  * `filesPerList` — 1 clusters each bucket into one writer task, raise it
  * when a hot bucket (stopword-heavy) outgrows one task. Probes take the
  * corpus stats as literals, broadcast only the one-row df frame and the
  * tombstone ids, and shuffle only the query terms' posting rows.
  */
object TextIndex {

  /** The postings DATA schema (what a `bucket=<b>` directory's files hold,
    * exactly as [[postingRows]] writes them — `bucket` itself is the
    * partition directory) — static, so probes never pay footer inference.
    */
  private val PostingsDataSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("dl", LongType),
      StructField("term", StringType),
      StructField("tf", LongType)))
  }

  /** Posting-schema column names the engine owns. `keepCols` must be
    * disjoint: [[metaColNames]] infers the metadata surface purely from
    * non-reserved names, and a clashing keepCols would corrupt the posting
    * grouping key or vanish from the TVF's metadata.
    */
  private val ReservedPostingCols: Set[String] =
    Set("doc_id", "toks", "dl", "term", "tf", "bucket")

  private def requireKeepCols(keepCols: Seq[String]): Unit = {
    // lower-cased compare: Spark resolves columns case-insensitively by
    // default (spark.sql.caseSensitive=false), so "Term" collides too
    val clash = keepCols.filter(c => ReservedPostingCols.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"keepCols ${clash.mkString(", ")} collide with reserved posting columns " +
        s"(${ReservedPostingCols.toSeq.sorted.mkString(", ")}) — rename before building")
  }

  /** (meta, postings) frames for a batch of documents under a fixed bucket
    * count — shared by [[write]] and [[append]] so base and epoch trees
    * carry identical arithmetic and schema.
    */
  private def postingRows(
      docs: DataFrame,
      nBuckets: Int,
      idCol: String,
      textCol: String,
      keepCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    requireKeepCols(keepCols)
    // batch stats at build time: the probe must not touch the corpus
    val meta = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col(textCol))).cast("long")).as("sum_dl"))
      .withColumn("n_buckets", lit(nBuckets))
    // per-document term frequencies fused into the scan (graft_token_counts,
    // r17): the old explode(tokens) → groupBy(doc_id, dl, term) → count()
    // formulation paid a cluster-wide exchange for an aggregation whose
    // group key contains the row's own doc_id — per-document work by
    // construction. The build now keeps exactly ONE exchange (the bucket
    // repartition in clusterForWrite), and its shuffled rows are already
    // tf-compacted. Bit-identical posting rows (TokenCountsSpec pins the
    // equivalence, whitespace edges included); keepCols are per-DOC
    // metadata and ride the projection unchanged.
    val postings = docs
      .select(col(idCol).cast("long").as("doc_id") +:
        explode(graft.functions.expressions.TokenCountsExpression
          .tokenCountsNative(col(textCol))).as("kv") +: keepCols.map(col): _*)
      .select(col("doc_id") +: col("kv.dl").as("dl") +: col("kv.term").as("term") +:
        keepCols.map(col) :+ col("kv.tf").as("tf"): _*)
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
    (meta, postings)
  }

  /** The spread branch pins an explicit partition count: without it AQE
    * coalesces a small shuffle back to one task and the dial is a no-op.
    */
  private def clusterForWrite(
      postings: DataFrame,
      nBuckets: Int,
      filesPerBucket: Int): DataFrame =
    if (filesPerBucket <= 1) postings.repartition(col("bucket"))
    else postings.repartition(nBuckets * filesPerBucket, col("bucket"),
      pmod(xxhash64(col("doc_id")), lit(filesPerBucket.toLong)))

  /** Build the index at `path` (overwrites). One corpus scan + one
    * partitioned write. `keepCols` persists per-document metadata columns
    * (lang, source …) into the posting rows so a [[bm25TopK]] `predicate`
    * over them restricts SERVING at probe time — filtered lexical search;
    * [[append]] infers and carries the same columns from the base schema.
    */
  def write(
      docs: DataFrame,
      path: String,
      nBuckets: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text",
      filesPerBucket: Int = 1,
      keepCols: Seq[String] = Nil): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    // the base pair follows the SAME commit protocol as an epoch: uncommit
    // (delete the meta) first, postings next, meta LAST — its `_SUCCESS` is
    // the base's commit marker. A crash mid-build leaves the base invisible
    // to [[liveTrees]] instead of half-served, and a rebuild over an
    // existing index can never pair fresh postings with a stale meta.
    val spark = docs.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$path/meta"), true)
    val (meta, postings) = postingRows(docs, nBuckets, idCol, textCol, keepCols)
    clusterForWrite(postings, nBuckets, filesPerBucket)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/postings")
    meta.coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    graft.util.IndexMetaCache.stamp(spark, path)
  }

  /** Append a batch of NEW documents as a committed epoch under the base
    * build's frozen bucket count. Probes answer over base + every committed
    * epoch bit-identically to a full rebuild of the union — df/n_docs/avgdl
    * are additive, nothing needs retraining. The caller's contract is the
    * same as [[IvfIndex.append]]'s: appended doc_ids are disjoint from
    * what the index already serves (a re-appended document would
    * double-count itself into df and the corpus stats).
    *
    * Crash/replay contract: postings land first, the epoch's meta last —
    * the meta `_SUCCESS` commits the epoch, so a crash mid-append leaves
    * it invisible. A streaming caller passes a deterministic `epochId`
    * keyed by micro-batch; the replay deletes the stale meta (uncommits)
    * before rewriting, so a half-rewritten tree is never served.
    */
  def append(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      filesPerBucket: Int = 1,
      epochId: Option[String] = None,
      maxLiveTrees: Int = 0,
      sweepGraceMs: Long = 0L): Unit = {
    val spark = docs.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nBuckets = liveNBuckets(spark, path)
    val epoch = epochId.getOrElse(
      f"${rawEpochs(spark, path).size}%08d-${java.util.UUID.randomUUID.toString.take(8)}")
    val root = s"$path/epochs/$epoch"
    val metaPath = new Path(s"$root/meta")
    if (fs.exists(metaPath)) fs.delete(metaPath, true)
    // metadata columns the build persisted (write's keepCols): appended
    // epochs must carry them too, or probe-time predicates would see
    // nulls for this epoch's docs. Cached keyed by the head tree's
    // immutable postings dir (r17; was re-read per append — a partition
    // discovery job + footer read per epoch for a schema frozen at build)
    val headTree = treePostings(path, liveTrees(spark, path).head)
    val metaCols = graft.util.IndexMetaCache
      .getOrCompute(spark, headTree, "lex.appendMetaCols") {
        (spark.read.parquet(headTree)
          .schema.fieldNames.toSet -- Set("doc_id", "dl", "term", "tf", "bucket"))
          .toSeq.sorted
      }
    val (meta, postings) = postingRows(docs, nBuckets, idCol, textCol, metaCols)
    clusterForWrite(postings, nBuckets, filesPerBucket)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$root/postings")
    // an EMPTY append must be a NO-OP, never an epoch: a zero-row epoch
    // directory has no parquet footers, so every later probe/compaction
    // that opens it dies on schema inference — a data-dependent poison
    // pill planted by whatever upstream filter happened to match nothing.
    // Detected AFTER the write by one FS listing (a zero-row partitioned
    // write leaves no bucket= dirs, and the meta commit below never
    // happens), so the common non-empty path pays no extra Spark job.
    if (IvfIndex.dropEpochIfRowless(spark, root, "postings", "bucket=")) return
    meta.coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
    graft.util.IndexMetaCache.stamp(spark, path)
    // auto-compaction dial (same as the streaming ingesters'): once more
    // than `maxLiveTrees` trees serve, fold all but the newest epoch into
    // one compact tree — probe planning cost stays flat across unbounded
    // appends with no manual maintenance. keepLatest = 1 so a caller that
    // replays its own newest epoch (deterministic epochId) rewrites only
    // itself. 0 disables (default: existing callers manage compaction).
    if (maxLiveTrees > 0 && liveTrees(spark, path).size > maxLiveTrees)
      compact(spark, path, filesPerBucket, keepLatest = 1, sweepGraceMs = sweepGraceMs)
  }

  /** Tombstone-delete documents from serving: each call writes a committed
    * tombstone epoch of (doc_id, dl) — captured from the delete request's
    * own rows, so no index IO is paid per delete — and probes mask the
    * postings with a broadcast anti-join while subtracting the tombstoned
    * (doc count, token mass) from the corpus stats, so scores/df/avgdl all
    * shrink to the surviving corpus exactly ([[compact]] later applies and
    * retires the tombstones, removing the rows from disk). Caller
    * contract, same as [[IvfIndex.delete]]'s: only delete documents the
    * index currently serves (the stats subtraction assumes membership); a
    * doc tombstoned twice counts once; a tombstoned id stays masked until
    * a compaction retires it, after which a fresh [[append]] serves it
    * again.
    */
  def delete(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    // empty tombstone set: no-op — never a pointless epoch (unlike the
    // appends' free post-write detection, a coalesce(1) write of an empty
    // frame DOES emit a footer-valid zero-row part file, so the guard
    // here is an up-front isEmpty; deletes are rare enough that the one
    // scheduling round does not matter)
    if (docs.isEmpty) return
    val spark = docs.sparkSession
    val epoch =
      f"${rawTombstones(spark, path).size}%08d-${java.util.UUID.randomUUID.toString.take(8)}"
    docs.select(col(idCol).cast("long").as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("dl"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/tombstones/$epoch")
    graft.util.IndexMetaCache.stamp(spark, path)
  }

  private def rawTombstones(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(s"$path/tombstones")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Committed, un-retired tombstone epochs (retired ones are named in a
    * compact manifest and swept). Cached keyed by the mutable root — same
    * invalidate-per-mutation rationale as [[liveTrees]] (probes read the
    * [[probePlan]] bundle instead).
    */
  private def liveTombstones(spark: SparkSession, path: String): Seq[String] =
    graft.util.IndexMetaCache.getOrCompute(spark, path, "lex.liveTombstones") {
      liveTombstonesNow(spark, path)
    }

  private def liveTombstonesNow(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = mergedIds(spark, path)
    rawTombstones(spark, path)
      .filter(e => fs.exists(new Path(s"$path/tombstones/$e/_SUCCESS")))
      .filterNot(e => dead.contains(s"tombstones/$e"))
  }

  /** The meta schema [[postingRows]] and [[compact]] write: fixed, so a
    * meta read infers nothing (schema inference is a Spark job of its own).
    */
  private val MetaSchema = "n_docs BIGINT, sum_dl BIGINT, n_buckets INT"

  /** The tombstone schema [[delete]] writes. */
  private val TombstoneSchema = "doc_id BIGINT, dl BIGINT"

  /** The tombstoned doc ids as written, for an anti-join (a doc deleted
    * twice appears twice, which a left anti join ignores), or None.
    */
  private def readTombstonesOf(
      spark: SparkSession, path: String, ts: Seq[String]): Option[DataFrame] =
    if (ts.isEmpty) None
    else Some(graft.util.ProbePlanning.withDriverListing(spark) { ss =>
      ss.read.schema(TombstoneSchema).parquet(ts.map(e => s"$path/tombstones/$e"): _*)
        .select(col("doc_id"))
    })

  /** Summed (n_docs, sum_dl, n_buckets) of `trees`' metas and the (docs,
    * token mass) of the tombstones in `tombs` — a doc deleted twice counts
    * once, with its largest recorded dl — from ONE Spark job: the metas and
    * the raw tombstone rows are read with their fixed schemas, collected
    * together (both are driver-sized: one row per tree, one per deleted
    * doc, which the anti-join broadcasts anyway) and summed on the driver.
    */
  private def statsNow(
      spark: SparkSession, path: String, trees: Seq[String], tombs: Seq[String])
      : ((Long, Long, Int), (Long, Long)) = {
    val parts = graft.util.ProbePlanning.withDriverListing(spark) { ss =>
      Seq(
        Option.when(trees.nonEmpty)(ss.read.schema(MetaSchema)
          .parquet(trees.map(t => treeMeta(path, t)): _*).withColumn("meta", lit(true))),
        Option.when(tombs.nonEmpty)(ss.read.schema(TombstoneSchema)
          .parquet(tombs.map(e => s"$path/tombstones/$e"): _*).withColumn("meta", lit(false))))
        .flatten
    }
    val rows = parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map(_.collect()).getOrElse(Array.empty[org.apache.spark.sql.Row])
    val (metas, dead) = rows.partition(_.getAs[Boolean]("meta"))
    val sums = (metas.map(_.getAs[Long]("n_docs")).sum, metas.map(_.getAs[Long]("sum_dl")).sum,
      metas.map(_.getAs[Int]("n_buckets")).maxOption.getOrElse(0))
    // one entry per doc id (null included, as a groupBy would keep it)
    val dls = dead.groupBy(r => Option(r.getAs[java.lang.Long]("doc_id"))).values
      .map(_.flatMap(r => Option(r.getAs[java.lang.Long]("dl"))).map(_.longValue).maxOption.getOrElse(0L))
    (sums, (dls.size.toLong, dls.sum))
  }

  /** Consolidate every live tree (base + committed epochs) into ONE
    * compact epoch — the standing maintenance op once appends accrete and
    * files-per-probe grows, exactly like [[IvfIndex.compact]]. Pure IO:
    * posting rows are unioned and rewritten bucket-partitioned, the
    * merged meta is the exact integer sum of the replaced metas, so
    * probes are bit-identical before and after.
    *
    * Crash contract: the compact epoch's commit marker is its `_MERGED`
    * manifest, written last via atomic rename and naming the trees it
    * replaced; a crash before the rename leaves an orphaned invisible
    * compact tree (reclaimed by the next sweep), a crash after it leaves
    * replaced trees that are already invisible. Run between
    * probes/appends — maintenance does not race itself.
    */
  def compact(
      spark: SparkSession,
      path: String,
      filesPerBucket: Int = 1,
      keepLatest: Int = 0,
      sweepGraceMs: Long = 0L): Unit =
    compact(spark, path, filesPerBucket, sweep = true, keepLatest, sweepGraceMs)

  private[graft] def compact(
      spark: SparkSession,
      path: String,
      filesPerBucket: Int,
      sweep: Boolean): Unit =
    compact(spark, path, filesPerBucket, sweep, keepLatest = 0, sweepGraceMs = 0L)

  /** `sweep = false` stops after the manifest commit (the crash-mid-sweep
    * state; exercised by TextIndexSpec — production uses the sweeping
    * overload). `keepLatest > 0` excludes the newest N ordinary epochs from
    * the merge: a streaming ingester compacts with `keepLatest = 1` so the
    * epoch of a micro-batch not yet past its streaming checkpoint is never
    * folded away — a replay then uncommits and rewrites ONLY its own epoch,
    * instead of re-appending docs the compact tree already serves.
    * `sweepGraceMs > 0` defers reclaiming replaced trees until their
    * manifest has aged past the window — required when probes run
    * concurrently with maintenance (see [[IvfIndex.compact]]'s
    * serving-concurrency note; same FILE_NOT_EXIST race).
    */
  private[graft] def compact(
      spark: SparkSession,
      path: String,
      filesPerBucket: Int,
      sweep: Boolean,
      keepLatest: Int,
      sweepGraceMs: Long): Unit = {
    val allTrees = liveTrees(spark, path)
    val protectSet = allTrees
      .filter(t => t != "base" && !t.startsWith("compact-"))
      .sorted.takeRight(keepLatest).toSet
    val trees = allTrees.filterNot(protectSet)
    // tombstones are applied (and retired) only on a FULL compact: a
    // protected epoch may carry postings of a tombstoned doc, and retiring
    // the tombstone while those rows stay on disk would resurrect them
    val tombs =
      if (protectSet.isEmpty) liveTombstones(spark, path) else Seq.empty
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (trees.size > 1 || (trees.nonEmpty && tombs.nonEmpty)) {
      val all0 = trees.map(t => spark.read.parquet(treePostings(path, t)))
        .reduce(_.unionByName(_))
      // apply live deletes permanently: the consolidated tree holds the
      // anti-joined survivors, the merged meta their exact stats, and the
      // manifest retires the tombstone epochs in the same commit
      val all = readTombstonesOf(spark, path, tombs) match {
        case Some(t) => all0.join(broadcast(t), Seq("doc_id"), "left_anti")
        case None => all0
      }
      val ((nDocsAll, sumDlAll, nBuckets), (nDel, sumDlDel)) = statsNow(spark, path, trees, tombs)
      val cpt = s"compact-${java.util.UUID.randomUUID.toString.take(8)}"
      clusterForWrite(all, nBuckets, filesPerBucket)
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/epochs/$cpt/postings")
      import spark.implicits._
      Seq((nDocsAll - nDel, sumDlAll - sumDlDel, nBuckets))
        .toDF("n_docs", "sum_dl", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/epochs/$cpt/meta")
      val tmp = new Path(s"$path/epochs/$cpt/postings/_MERGED.tmp")
      val out = fs.create(tmp, true)
      try out.write((trees ++ tombs.map(e => s"tombstones/$e"))
        .mkString("\n").getBytes("UTF-8")) finally out.close()
      fs.rename(tmp, new Path(s"$path/epochs/$cpt/postings/_MERGED"))
      graft.util.IndexMetaCache.stamp(spark, path)
    }
    if (sweep) sweepMerged(spark, path, sweepGraceMs)
  }

  /** Delete trees a committed `_MERGED` manifest replaced — but only once
    * that manifest has aged `graceMs` (serving-concurrency: an in-flight
    * probe may still scan the replaced files; they are invisible to new
    * plans regardless) — plus any orphaned pre-manifest compact tree,
    * which no reader can ever have planned against.
    *
    * ORDERING INVARIANT (see [[IvfIndex]]'s sweep — same resurrection
    * catch): a COMPACT tree is reclaimed only after every tree its OWN
    * manifest names is gone; manifests are processed oldest-first.
    */
  private def sweepMerged(spark: SparkSession, path: String, graceMs: Long = 0L): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    def manifestOf(e: String) = new Path(s"$path/epochs/$e/postings/_MERGED")
    def namedIds(m: Path): List[String] = {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    def treeGone(id: String): Boolean = id match {
      case "base" => !fs.exists(new Path(s"$path/postings"))
      case t if t.startsWith("tombstones/") => !fs.exists(new Path(s"$path/$t"))
      case e2 => !fs.exists(new Path(s"$path/epochs/$e2"))
    }
    val manifests = committedEpochs(spark, path)
      .map(manifestOf).filter(fs.exists(_))
      .map(m => (m, fs.getFileStatus(m).getModificationTime))
      .sortBy(_._2)
    for ((m, mtime) <- manifests
         if graceMs <= 0L || now - mtime >= graceMs) {
      namedIds(m).foreach {
        case "base" =>
          fs.delete(new Path(s"$path/postings"), true)
          fs.delete(new Path(s"$path/meta"), true)
        case t if t.startsWith("tombstones/") =>
          fs.delete(new Path(s"$path/$t"), true)
        case e2 if !e2.startsWith("compact-") =>
          fs.delete(new Path(s"$path/epochs/$e2"), true)
        case c =>
          val own = manifestOf(c)
          if (!fs.exists(own) || namedIds(own).forall(treeGone))
            fs.delete(new Path(s"$path/epochs/$c"), true)
      }
    }
    rawEpochs(spark, path)
      .filter(e => e.startsWith("compact-") &&
        !fs.exists(new Path(s"$path/epochs/$e/postings/_MERGED")))
      .foreach(e => fs.delete(new Path(s"$path/epochs/$e"), true))
  }

  /** Tree ids named by any committed compact manifest ("base" = the
    * original `postings`/`meta` pair).
    */
  private def mergedIds(spark: SparkSession, path: String): Set[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedEpochs(spark, path).flatMap { e =>
      val m = new Path(s"$path/epochs/$e/postings/_MERGED")
      if (!fs.exists(m)) Seq.empty
      else {
        val in = fs.open(m)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
    }.toSet
  }

  private def treePostings(path: String, id: String): String =
    if (id == "base") s"$path/postings" else s"$path/epochs/$id/postings"

  private def treeMeta(path: String, id: String): String =
    if (id == "base") s"$path/meta" else s"$path/epochs/$id/meta"

  /** Live tree ids for a probe: base + committed epochs, minus anything a
    * committed compact manifest replaced. The base is live only when its
    * meta carries `_SUCCESS` — the marker [[write]] lands last — so a
    * half-built base (crash mid-bootstrap) is invisible, mirroring
    * [[committedEpochs]].
    *
    * Cached keyed by the MUTABLE index root (r18): the listing is a
    * function of the tree set, so it MUST invalidate per mutation — which
    * the root's FS signature does (every writer stamps) — but between
    * mutations a multi-tree epoch store was paying 2 full epoch listings,
    * per-epoch `_SUCCESS` exists checks and compact-manifest reads on
    * EVERY probe-planning call (the r17 re-key moved this walk out of the
    * cached block; epochs probes regressed ~40%). One signature walk per
    * call remains, as it must — which is why the probe path reads the
    * [[probePlan]] bundle instead of calling this repeatedly.
    */
  private[graft] def liveTrees(spark: SparkSession, path: String): Seq[String] =
    graft.util.IndexMetaCache.getOrCompute(spark, path, "lex.liveTrees") {
      liveTreesNow(spark, path)
    }

  private def liveTreesNow(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = mergedIds(spark, path)
    val base =
      if (fs.exists(new Path(s"$path/postings")) &&
          fs.exists(new Path(s"$path/meta/_SUCCESS")) && !dead("base")) Seq("base")
      else Seq.empty
    base ++ committedEpochs(spark, path).filterNot(dead)
  }

  /** Everything bm25TopK's PLANNING needs — live trees, the all-tree meta
    * sums, the live tombstones' (docs, token mass) and epochs — as ONE
    * root-keyed cache entry, so a probe pays exactly ONE FS-signature walk
    * (r18: the per-kind keys each re-derive the signature per call; three
    * planning lookups per probe measured as the epochs-probe floor) and at
    * most one Spark job ([[statsNow]]). Mutations invalidate through the
    * root signature (every writer stamps).
    */
  private def probePlan(spark: SparkSession, path: String)
      : (Seq[String], ((Long, Long, Int), (Long, Long)), Seq[String]) =
    graft.util.IndexMetaCache.getOrCompute(spark, path, "lex.probePlan") {
      val trees = liveTreesNow(spark, path)
      require(trees.nonEmpty, s"no live index trees at $path — build with write() first")
      val tombs = liveTombstonesNow(spark, path)
      (trees, statsNow(spark, path, trees, tombs), tombs)
    }

  /** Bucket count of the build, read from any live tree's meta (every
    * tree carries it; the base pair may have been compacted away).
    */
  private def liveNBuckets(spark: SparkSession, path: String): Int = {
    val trees = liveTrees(spark, path)
    require(trees.nonEmpty, s"no live index trees at $path — build with write() first")
    // keyed by the head tree's immutable meta dir (r17; was the index
    // root): the bucket count is frozen at build time, so appends no
    // longer re-pay this collect job once per mutation
    val headMeta = treeMeta(path, trees.head)
    graft.util.IndexMetaCache.getOrCompute(spark, headMeta, "lex.nBuckets") {
      spark.read.parquet(headMeta).collect().head.getAs[Int]("n_buckets")
    }
  }

  private def rawEpochs(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(s"$path/epochs")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Committed epoch ids: an ordinary epoch's commit marker is its meta
    * `_SUCCESS`; a `compact-*` epoch's is its `_MERGED` manifest.
    */
  private def committedEpochs(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    rawEpochs(spark, path).filter { e =>
      if (e.startsWith("compact-"))
        fs.exists(new Path(s"$path/epochs/$e/postings/_MERGED"))
      else fs.exists(new Path(s"$path/epochs/$e/meta/_SUCCESS"))
    }
  }

  /** Operational snapshot of the index's serving state: one row per live
    * tree — (kind = base|epoch|compact, per-kind ordinal in committed
    * order, exact n_docs / sum_dl from the tree's meta) — plus one
    * `tombstones` row (distinct masked docs and their token mass) when
    * deletes are live. The observability half of the maintenance story: an
    * operator reads this to decide when to [[compact]] (live-tree count,
    * tombstone mass) without touching a posting. ONE multi-root meta read
    * (the tree is recovered from the file path); the result is
    * trees+1-row tiny by construction.
    */
  def describe(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val trees = liveTrees(spark, path)
    require(trees.nonEmpty, s"no live index trees at $path — build with write() first")
    val byTree = spark.read.parquet(trees.map(t => treeMeta(path, t)): _*)
      .withColumn("tree",
        when(input_file_name().contains("/epochs/"),
          regexp_extract(input_file_name(), "/epochs/([^/]+)/meta/", 1))
          .otherwise(lit("base")))
      .select(col("tree"), col("n_docs").cast("long"), col("sum_dl").cast("long"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def kindOf(t: String) =
      if (t == "base") "base" else if (t.startsWith("compact-")) "compact" else "epoch"
    val ordinals = trees.groupBy(kindOf).flatMap { case (_, ts) =>
      ts.zipWithIndex.map { case (t, i) => t -> i.toLong }
    }
    val treeRows = trees.map { t =>
      val (n, dl) = byTree(t)
      (kindOf(t), ordinals(t), n, dl)
    }
    val tombRow = statsNow(spark, path, Nil, liveTombstones(spark, path))._2 match {
      case (0L, _) => Seq.empty
      case (n, dl) => Seq(("tombstones", 0L, n, dl))
    }
    (treeRows ++ tombRow)
      .toDF("kind", "ordinal", "n_docs", "sum_dl")
      .orderBy(col("kind"), col("ordinal"))
  }

  /** BM25 top-k answered from the persisted index: same output contract as
    * [[Search.bm25TopK]] — (doc_id, rank, bm25 rounded 6 dp), rank over
    * (bm25 DESC, doc_id ASC) — and bit-identical to it over the indexed
    * corpus. The postings scan is partition-pruned to the query terms'
    * buckets; the term filter inside a bucket is an ordinary pushed data
    * filter.
    */
  /** `predicate` is the FILTERED-lexical-search dial: a boolean Column
    * over the metadata the build persisted (write's `keepCols`),
    * restricting which documents can be SERVED — standard filtered-search
    * semantics, so the scoring statistics do NOT move: n_docs/avgdl come
    * from the (full-corpus) metas and per-term df is computed over the
    * unfiltered candidate rows; only the ranked documents are restricted.
    * (Contrast [[delete]], whose tombstones shrink the stats — removal
    * semantics. A filter is a view, not a removal.)
    */
  def bm25TopK(
      spark: SparkSession,
      path: String,
      queryTerms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75,
      predicate: Option[Column] = None,
      metaCols: Seq[String] = Nil): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, "queryTerms must be distinct")
    // live-tree metas (base + committed epochs, compaction-aware): n_docs
    // and sum_dl are additive, so ONE multi-root read sums them — probe
    // planning cost stays flat in the number of live epochs. All three
    // planning facts come from the ONE root-keyed bundle (r18), so the
    // probe pays a single FS-signature walk
    val (trees, ((nDocsAll, sumDlAll, nBuckets), (nDel, sumDlDel)), tombEpochs) =
      probePlan(spark, path)
    // live tombstones shrink the corpus stats exactly (tombstones carry
    // the dl captured at delete time, so no postings read is needed): the
    // subtraction is driver arithmetic on the planning collect's sums
    val tombstones = readTombstonesOf(spark, path, tombEpochs)
    // bucket of each query term via the SAME Catalyst expression classes
    // the build partitioned with (`pmod(xxhash64(term), n_buckets)`),
    // evaluated on the driver — identical arithmetic by construction, and
    // no per-probe job for a |terms|-sized computation
    val buckets = {
      import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
      import org.apache.spark.sql.types.StringType
      queryTerms.map { t =>
        Pmod(
          new XxHash64(Seq(Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(t), StringType))),
          Literal(nBuckets.toLong))
          .eval().asInstanceOf[Long]
      }.distinct
    }
    // bucket pruning happens on the DRIVER, before any relation exists:
    // the probed buckets are known (hash of the query terms), so the scan
    // reads exactly the `bucket=<b>` directories of every live tree as ONE
    // relation — |terms| x |trees| directory-existence checks and a single
    // file listing, never a per-tree partition discovery (each tree's
    // bucket-dir count would trigger a distributed listing job per tree,
    // growing probe cost linearly in the live-tree count — measured 12x at
    // 10 epochs). One FileSourceScan also packs the pruned files across
    // trees into shared task partitions, and `bm25Score`'s two consumers
    // of the candidate rows re-execute a cheap 1-relation scan. The bucket
    // column itself is partition metadata the probe no longer needs — the
    // term filter is an ordinary pushed data filter.
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prunedDirs = for {
      r <- trees.map(t => treePostings(path, t))
      b <- buckets
      p = new Path(s"$r/bucket=$b") if fs.exists(p)
    } yield p.toString
    // a serving predicate (or metadata passthrough) references metadata
    // columns beyond the static schema — pay one footer read to pick them
    // up. Discovered from a live TREE (not the pruned dirs) so even an
    // all-bucket-miss probe keeps the full schema ('bucket' is partition
    // metadata of the tree root, not a data column — drop it).
    val sch =
      if (predicate.isEmpty && metaCols.isEmpty) PostingsDataSchema
      // keyed by the head tree's immutable postings dir (r17; was the
      // index root): the posting schema is frozen at build time, so
      // appends/deletes no longer force the footer re-read at probe time
      else graft.util.IndexMetaCache.getOrCompute(
        spark, treePostings(path, trees.head), "lex.postingsSchema") {
        graft.util.ProbePlanning.withDriverListing(spark) { ss =>
          org.apache.spark.sql.types.StructType(
            ss.read.parquet(treePostings(path, trees.head)).schema
              .filterNot(_.name == "bucket"))
        }
      }
    // the pruned-scan RELATION is cached per index state (r18): resolving
    // `read.parquet(dirs)` lists every pruned directory on the driver —
    // ~0.15-0.2 s per probe on a 12-tree epoch store, re-paid by every
    // probe of an UNCHANGED index. The cache stores file-listing METADATA
    // (a resolved relation), never rows; the key digests the pruned dir
    // set (different term mixes probe different buckets) and the whole
    // per-path group drops on any mutation via the root FS signature
    val masked =
      if (prunedDirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      else graft.util.IndexMetaCache.getOrCompute(
        spark, path,
        "lex.scan:" + graft.util.IndexMetaCache.digestOf(prunedDirs ++ sch.fieldNames)) {
        graft.util.ProbePlanning.withDriverListing(spark) { ss =>
          ss.read.schema(sch).parquet(prunedDirs: _*)
        }
      }.filter(col("term").isin(queryTerms.map(x => x: Any): _*))
    val tf = tombstones match {
        case Some(t) => masked.join(broadcast(t), Seq("doc_id"), "left_anti")
        case None => masked
      }
    // the same sum(dl)::double / n_docs division the in-plan stats perform
    // — one IEEE op over the stored exact integers — passed as literals
    val nDocs = nDocsAll - nDel
    Search.bm25Score(tf, nDocs, (sumDlAll - sumDlDel).toDouble / nDocs, queryTerms, k, k1, b,
      serveFilter = predicate, metaCols = metaCols)
  }

  /** Metadata column names the build persisted into the posting rows
    * (write's `keepCols`), discovered from one live tree's footer —
    * everything beyond the engine's own posting schema. One driver-side
    * footer read.
    */
  def metaColNames(spark: SparkSession, path: String): Seq[String] =
    metaColFields(spark, path).map(_.name)

  /** The metadata columns a probe's output carries, WITH their stored
    * types — what the serving TVF needs to declare its output schema
    * without constructing a probe (a driver footer read, no Spark job).
    * Sorted by name.
    */
  def metaColFields(
      spark: SparkSession, path: String): Seq[org.apache.spark.sql.types.StructField] = {
    val trees = liveTrees(spark, path)
    require(trees.nonEmpty, s"no live index trees at $path — build with write() first")
    // keyed by the head tree's immutable postings dir (r17; was the index
    // root) — same rationale as lex.postingsSchema above
    val headTree = treePostings(path, trees.head)
    val fields = graft.util.IndexMetaCache.getOrCompute(spark, headTree, "lex.treeFields") {
      graft.util.ProbePlanning.withDriverListing(spark) { ss =>
        ss.read.parquet(headTree).schema.fields.toSeq
      }
    }
    fields.filter(f => !ReservedPostingCols.contains(f.name)).sortBy(_.name)
  }
}
