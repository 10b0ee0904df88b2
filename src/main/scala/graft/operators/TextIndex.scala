package graft.operators

import org.apache.hadoop.fs.Path

import graft.functions.TextFunctions.tokens
import graft.util.IndexTrees
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
  *     every committed epoch's postings and SUM the metas — df, n_docs and
  *     avgdl are all additive, so an appended index answers bit-identically
  *     to a full rebuild over the union (pinned in TextIndexSpec).
  *   - `tombstones/<e>/` — (doc_id, dl) of deleted documents ([[delete]]).
  *
  * Trees, epochs, tombstones, compaction and sweeps follow the one
  * epoch-tree protocol of [[graft.util.IndexTrees]] with sides
  * `postings, meta`: the meta's `_SUCCESS` commits a tree.
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
    val (meta, postings) = postingRows(docs, nBuckets, idCol, textCol, keepCols)
    writeTree(docs.sparkSession, path, IndexTrees.Base, meta, postings, nBuckets, filesPerBucket)
  }

  /** Write tree `id`'s postings, then its meta, under the store's commit
    * protocol. Returns false when an epoch's postings came out empty.
    */
  private def writeTree(
      spark: SparkSession, path: String, id: String, meta: DataFrame, postings: DataFrame,
      nBuckets: Int, filesPerBucket: Int): Boolean =
    trees(path).writeTree(spark, id) {
      case ("postings", dir) =>
        clusterForWrite(postings, nBuckets, filesPerBucket)
          .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      case (_, dir) => meta.coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** Append a batch of NEW documents as a committed epoch under the base
    * build's frozen bucket count. Probes answer over base + every committed
    * epoch bit-identically to a full rebuild of the union — df/n_docs/avgdl
    * are additive, nothing needs retraining. The caller's contract is the
    * same as [[IvfIndex.append]]'s: appended doc_ids are disjoint from
    * what the index already serves (a re-appended document would
    * double-count itself into df and the corpus stats).
    *
    * A streaming caller passes a deterministic `epochId` keyed by
    * micro-batch; a replay uncommits and rewrites that epoch. An empty
    * batch is a no-op, never an epoch. `maxLiveTrees > 0` compacts all but
    * the newest epoch (`keepLatest = 1`) once more trees than that serve;
    * 0 leaves compaction to the caller.
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
    val nBuckets = liveNBuckets(spark, path)
    // metadata columns the build persisted (write's keepCols): appended
    // epochs must carry them too, or probe-time predicates would see
    // nulls for this epoch's docs
    val (meta, postings) = postingRows(docs, nBuckets, idCol, textCol, metaColNames(spark, path))
    val epoch = epochId.getOrElse(trees(path).newEpochId(spark))
    if (writeTree(spark, path, epoch, meta, postings, nBuckets, filesPerBucket) &&
        maxLiveTrees > 0 && trees(path).liveTrees(spark).size > maxLiveTrees)
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
      textCol: String = "text"): Unit =
    trees(path).writeTombstones(docs.select(col(idCol).cast("long").as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("dl")))

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
    trees(path).readTombstones(spark, ts, TombstoneSchema).map(_.select(col("doc_id")))

  /** Summed (n_docs, sum_dl, n_buckets) of tree `ids`' metas and the (docs,
    * token mass) of the tombstones in `tombs` — a doc deleted twice counts
    * once, with its largest recorded dl — from ONE Spark job: the metas and
    * the raw tombstone rows are read with their fixed schemas, collected
    * together (both are driver-sized: one row per tree, one per deleted
    * doc, which the anti-join broadcasts anyway) and summed on the driver.
    */
  private def statsNow(
      spark: SparkSession, path: String, ids: Seq[String], tombs: Seq[String])
      : ((Long, Long, Int), (Long, Long)) = {
    val parts = graft.util.ProbePlanning.withDriverListing(spark) { ss =>
      Seq(
        Option.when(ids.nonEmpty)(ss.read.schema(MetaSchema)
          .parquet(ids.map(t => treeMeta(path, t)): _*).withColumn("meta", lit(true))),
        Option.when(tombs.nonEmpty)(ss.read.schema(TombstoneSchema)
          .parquet(tombs.map(trees(path).tombstoneDir): _*).withColumn("meta", lit(false))))
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
    * posting rows are unioned and rewritten bucket-partitioned, minus the
    * live tombstones, and the merged meta is the exact integer sum of the
    * replaced metas minus the deleted docs, so probes are bit-identical
    * before and after. `keepLatest` and `sweepGraceMs`: see
    * [[graft.util.IndexTrees.compact]] and its sweep; a grace is required
    * when probes run concurrently with maintenance.
    */
  def compact(
      spark: SparkSession,
      path: String,
      filesPerBucket: Int = 1,
      keepLatest: Int = 0,
      sweepGraceMs: Long = 0L): Unit =
    compact(spark, path, filesPerBucket, sweep = true, keepLatest, sweepGraceMs)

  /** `sweep = false` stops after the manifest commit (the crash-mid-sweep
    * state the specs build).
    */
  private[graft] def compact(
      spark: SparkSession,
      path: String,
      filesPerBucket: Int,
      sweep: Boolean,
      keepLatest: Int,
      sweepGraceMs: Long): Unit = {
    val store = trees(path)
    store.compact(spark, keepLatest, sweep, sweepGraceMs) { (replaced, tombs, cpt) =>
      val all = replaced.map(t => spark.read.parquet(treePostings(path, t))).reduce(_.unionByName(_))
      val live = readTombstonesOf(spark, path, tombs) match {
        case Some(t) => all.join(broadcast(t), Seq("doc_id"), "left_anti")
        case None => all
      }
      val ((nDocsAll, sumDlAll, nBuckets), (nDel, sumDlDel)) = statsNow(spark, path, replaced, tombs)
      clusterForWrite(live, nBuckets, filesPerBucket)
        .write.mode("overwrite").partitionBy("bucket").parquet(store.treeDir(cpt, "postings"))
      import spark.implicits._
      Seq((nDocsAll - nDel, sumDlAll - sumDlDel, nBuckets))
        .toDF("n_docs", "sum_dl", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(store.treeDir(cpt, "meta"))
    }
  }

  private[graft] def trees(path: String): IndexTrees = IndexTrees(path, Seq("postings", "meta"))

  private def treePostings(path: String, id: String): String = trees(path).treeDir(id, "postings")

  private def treeMeta(path: String, id: String): String = trees(path).treeDir(id, "meta")

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
      val (live, tombs) = trees(path).liveNow(spark)
      require(live.nonEmpty, s"no live index trees at $path — build with write() first")
      (live, statsNow(spark, path, live, tombs), tombs)
    }

  /** Bucket count of the build, read from any live tree's meta (every
    * tree carries it; the base pair may have been compacted away).
    */
  private def liveNBuckets(spark: SparkSession, path: String): Int = {
    // keyed by the head tree's immutable meta dir (r17; was the index
    // root): the bucket count is frozen at build time, so appends no
    // longer re-pay this collect job once per mutation
    val headMeta = treeMeta(path, liveTrees(spark, path).head)
    graft.util.IndexMetaCache.getOrCompute(spark, headMeta, "lex.nBuckets") {
      spark.read.parquet(headMeta).collect().head.getAs[Int]("n_buckets")
    }
  }

  private def liveTrees(spark: SparkSession, path: String): Seq[String] = {
    val live = trees(path).liveTrees(spark)
    require(live.nonEmpty, s"no live index trees at $path — build with write() first")
    live
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
    val (live, tombs) = trees(path).live(spark)
    require(live.nonEmpty, s"no live index trees at $path — build with write() first")
    val byTree = spark.read.parquet(live.map(t => treeMeta(path, t)): _*)
      .withColumn("tree",
        when(input_file_name().contains("/epochs/"),
          regexp_extract(input_file_name(), "/epochs/([^/]+)/meta/", 1))
          .otherwise(lit("base")))
      .select(col("tree"), col("n_docs").cast("long"), col("sum_dl").cast("long"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val treeRows = live.zip(IndexTrees.kinds(live)).map { case (t, (kind, ordinal)) =>
      val (n, dl) = byTree(t)
      (kind, ordinal, n, dl)
    }
    val tombRow = statsNow(spark, path, Nil, tombs)._2 match {
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
    // all-bucket-miss probe keeps the full schema.
    val sch =
      if (predicate.isEmpty && metaCols.isEmpty) PostingsDataSchema
      else org.apache.spark.sql.types.StructType(postingFields(spark, path, trees.head))
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
      spark: SparkSession, path: String): Seq[org.apache.spark.sql.types.StructField] =
    postingFields(spark, path, liveTrees(spark, path).head)
      .filter(f => !ReservedPostingCols.contains(f.name)).sortBy(_.name)

  /** The posting data columns (`bucket` is partition metadata, not among
    * them) as tree `head` stores them: one driver-side footer read, no
    * Spark job. Cached keyed by that tree's immutable postings dir — the
    * schema is frozen at build time, so appends and deletes never force a
    * re-read.
    */
  private def postingFields(
      spark: SparkSession, path: String, head: String): Seq[org.apache.spark.sql.types.StructField] = {
    val dir = treePostings(path, head)
    graft.util.IndexMetaCache.getOrCompute(spark, dir, "lex.postingFields") {
      graft.util.ProbePlanning.footerSchema(spark, dir).fields.toSeq
    }
  }
}
