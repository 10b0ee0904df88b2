package graft.operators

import org.apache.hadoop.fs.Path

import graft.functions.VectorFunctions._
import graft.util.IndexTrees
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A PERSISTED IVF index over an embedding column: the write-once /
  * probe-many form of [[Similarity.ivfTopK]], which re-derives the corpus
  * assignment in-plan on every call. At serving scale the corpus scan is
  * the whole cost, so the index materializes each vector's inverted list
  * ONCE as a cid-partitioned parquet layout; a probe then reads only the
  * `nprobe` directories its queries select — partition pruning visible as
  * `PartitionFilters` in the scan, i.e. ~nprobe/nlist of the bytes, with no
  * filter evaluation against non-probed lists at all (IvfIndexSpec pins
  * both the pruning and bit-identity with the in-plan operator).
  *
  * Layout under `path`:
  *   - `centroids/` — (cid, cv, cnrm): the `nlist` deterministic coarse
  *     centroids ([[Similarity.collectCentroids]] — lowest-id corpus
  *     vectors, no training), a single tiny file read at probe time.
  *   - `lists/cid=<c>/` — (id, v, nrm): each corpus vector in exactly one
  *     inverted list, its L2 norm precomputed at build so probes never
  *     touch arithmetic the build already paid for.
  *   - `epochs/<e>/lists/cid=<c>/` — appended vectors ([[append]]): a
  *     GROWING corpus adds per-epoch list trees under the FROZEN
  *     centroids instead of full-rebuilding; probes union the base and
  *     every committed epoch, all still partition-pruned on cid.
  *   - `tombstones/<e>/` — (id) of deleted vectors ([[delete]]).
  *
  * Trees, epochs, tombstones, compaction and sweeps follow the one
  * epoch-tree protocol of [[graft.util.IndexTrees]] with the single side
  * `lists`: its `_SUCCESS` commits a tree.
  *
  * Cluster notes: the build is one corpus scan (assignment is the same
  * scan-stage argmax expression ivfTopK uses) plus a partitioned shuffle
  * write; `nlist` should scale with corpus size (sqrt(n) heuristic) so each
  * list stays a few hundred MB — directories-per-table and files-per-probe
  * both stay trivially small. Probes broadcast the (small) query side and
  * shuffle nothing but scored (query, neighbor) rows. Appends accrete one
  * list tree per epoch — files-per-probe grows with epoch count, so
  * [[compact]] is the standing maintenance op, exactly like the admission
  * store's.
  */
object IvfIndex {

  /** `nlist = 0` on the builders means auto: the sqrt(n) heuristic the
    * layout notes describe (each list ~sqrt(n) vectors keeps both
    * directories-per-table and probe cost balanced as the corpus grows),
    * clamped to [16, 4096] and costed by ONE count job at build time —
    * the same auto-switch convention as `Dedup.ngramJaccardPairs` and
    * `simhashPairs`.
    */
  private def resolveNlist(emb: DataFrame, nlist: Int): Int = {
    require(nlist >= 0, s"nlist must be >= 0 (0 = auto), got $nlist")
    if (nlist > 0) nlist
    else math.min(4096, math.max(16, math.sqrt(emb.count().toDouble).toInt))
  }

  /** The engine's own list-schema column names. `keepCols` must be
    * disjoint from these: [[kindOf]]/[[metaColNames]] infer the index rung
    * and metadata surface purely from reserved names, so a keepCols named
    * `qvec`/`codes` would dispatch the wrong probe and one named
    * `scale`/`qnrm`/`rnrm` would silently vanish from the TVF's metadata.
    */
  private val ReservedListCols: Set[String] =
    Set("id", "v", "nrm", "cid", "qvec", "scale", "qnrm", "codes", "rnrm")

  private def requireKeepCols(keepCols: Seq[String]): Unit = {
    // lower-cased compare: Spark resolves columns case-insensitively by
    // default (spark.sql.caseSensitive=false), so "Qvec" collides too
    val clash = keepCols.filter(c => ReservedListCols.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"keepCols ${clash.mkString(", ")} collide with reserved index columns " +
        s"(${ReservedListCols.toSeq.sorted.mkString(", ")}) — rename before building")
  }

  private[graft] def trees(path: String): IndexTrees = IndexTrees(path, Seq("lists"))

  private def listsDir(path: String, id: String): String = trees(path).treeDir(id, "lists")

  /** (id, v, nrm, `cols`…) list rows of a batch, before the rung's columns
    * and the cid assignment.
    */
  private def listRows(emb: DataFrame, idCol: String, vecCol: String, cols: Seq[String]): DataFrame =
    emb.select(col(idCol).as("id") +: col(vecCol).as("v") +:
      l2Norm(col(vecCol)).as("nrm") +: cols.map(col): _*)

  /** The SQ8 columns (`scale`, `qvec`, its norm `qnrm`) — a PURE
    * PROJECTION of the vector (graft_quantize), attached inline: a self-join
    * of the batch with its own quantized projection would pay a corpus
    * exchange for columns the scan computes in place.
    */
  private def withSq8(rows: DataFrame): DataFrame =
    rows
      .withColumn("__q", graft.functions.expressions.QuantizeExpression.quantizeNative(col("v")))
      .withColumn("scale", col("__q").getField("scale"))
      .withColumn("qvec", col("__q").getField("qvec"))
      .withColumn("qnrm", l2Norm(col("qvec")))
      .drop("__q")

  private def withPq(rows: DataFrame, codebook: Array[Array[Array[Double]]]): DataFrame =
    rows
      .withColumn("codes",
        graft.functions.expressions.PqEncodeExpression.pqEncodeNative(col("v"), codebook))
      .withColumn("rnrm", pqReconNorm(col("codes"), codebook))

  /** Write one list tree of `cid`-assigned rows, clustered per cid by the
    * `filesPerList` dial ([[write]]), partitioned by cid.
    */
  private def writeLists(assigned: DataFrame, dir: String, filesPerList: Int): Unit = {
    val clustered =
      if (filesPerList <= 1) assigned.repartition(col("cid"))
      else assigned.repartition(col("cid"), pmod(xxhash64(col("id")), lit(filesPerList.toLong)))
    clustered.write.mode("overwrite").partitionBy("cid").parquet(dir)
  }

  /** Build the base of every rung: the store uncommits the old base, then
    * the quantizer lands, then `rung` adds the rung's columns to the list
    * rows (writing any index-wide side file of its own, like the PQ
    * codebook), then the lists commit — a crash mid-build never pairs
    * stale lists with a fresh quantizer.
    */
  private def build(
      emb: DataFrame, path: String, nlist: Int, idCol: String, vecCol: String,
      filesPerList: Int, trainIters: Int, keepCols: Seq[String])(
      rung: DataFrame => DataFrame): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    requireKeepCols(keepCols)
    trees(path).writeTree(spark, IndexTrees.Base) { (_, dir) =>
      val cents = buildCentroids(emb, resolveNlist(emb, nlist), idCol, vecCol, trainIters)
      cents.toSeq.toDF("cid", "cv", "cnrm")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/centroids")
      writeLists(rung(listRows(emb, idCol, vecCol, keepCols))
        .withColumn("cid", Similarity.centroidAssignExpr(cents)), dir, filesPerList)
    }
  }

  /** Coarse quantizer for a build: the lowest-id convention by default, or
    * `trainIters` Lloyd iterations of the deterministic distributed
    * k-means ([[Clustering.kmeansTrain]]) seeded from it — trained
    * centroids tighten the lists, so probes at a fixed `nprobe` see more
    * of each query's true neighborhood. Either way the quantizer is a
    * pure function of the corpus (no RNG), so the oracle replays it.
    */
  private def buildCentroids(
      emb: DataFrame,
      nlist: Int,
      idCol: String,
      vecCol: String,
      trainIters: Int): Array[(Long, Array[Double], Double)] =
    if (trainIters <= 0) Similarity.collectCentroids(emb, nlist, idCol, vecCol)
    else Clustering.kmeansTrain(emb, nlist, trainIters, idCol, vecCol)._1

  /** Build the index at `path` (overwrites). One scan + one partitioned
    * write. `filesPerList` is the skew/parallelism dial: 1 (default)
    * clusters each inverted list into a single writer task — one file per
    * list, right when lists are modest; raise it for corpora where a hot
    * centroid's list outgrows one task (the write spreads each list over
    * `filesPerList` tasks/files, bounding both task size AND file count —
    * `repartition(cid)` alone writes a 100 GB list single-threaded, while
    * an unpartitioned write emits one file per input-task × cid).
    * `nlist = 0` selects the sqrt(n) auto heuristic ([[resolveNlist]]);
    * `trainIters > 0` trains the coarse quantizer ([[buildCentroids]]) at
    * a cost of one extra corpus scan + tiny aggregate per iteration.
    * `keepCols` persists metadata columns of `emb` INTO the inverted
    * lists (label, source, timestamp …) so a [[probe]] predicate over
    * them filters at the pruned list scan itself — filtered vector
    * search with parquet-level pushdown, no side join. [[append]] carries
    * the same columns automatically (inferred from the base schema).
    */
  def write(
      emb: DataFrame,
      path: String,
      nlist: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      filesPerList: Int = 1,
      trainIters: Int = 0,
      keepCols: Seq[String] = Nil): Unit =
    build(emb, path, nlist, idCol, vecCol, filesPerList, trainIters, keepCols)(identity)

  /** Build a QUANTIZED index: like [[write]], but each inverted list also
    * carries the vector's symmetric-int8 form ([[Similarity.quantize]] —
    * `qvec`, its `scale`, and the precomputed quantized norm `qnrm`)
    * alongside the exact float columns. A [[probeQuantized]] candidate scan
    * then reads ONLY (id, qvec, qnrm) of the probed lists — int8 lanes are
    * 4x fewer bytes than float32, the standard memory-ladder rung before
    * PQ — and parquet column pruning keeps the exact `v` pages untouched
    * until the per-query rerank. One corpus scan, one partitioned write,
    * same layout/skew dials as [[write]].
    */
  def writeQuantized(
      emb: DataFrame,
      path: String,
      nlist: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      filesPerList: Int = 1,
      trainIters: Int = 0,
      keepCols: Seq[String] = Nil): Unit =
    build(emb, path, nlist, idCol, vecCol, filesPerList, trainIters, keepCols)(withSq8)

  /** Build a PRODUCT-QUANTIZED index: the memory-ladder rung above SQ8
    * ([[writeQuantized]]). The vector's dimensions split into
    * `numSubspaces` contiguous subspaces; each subspace has a `ksub`-word
    * codebook — deterministic, no training: the sub-slices of the `ksub`
    * lowest-id corpus vectors, the same lowest-id convention as the coarse
    * centroids, which is what keeps the whole build DuckDB-replayable —
    * and each list row stores only its code per subspace
    * ([[graft.functions.expressions.PqEncode]], L2 argmin, one byte per
    * code: numSubspaces bytes per vector vs 4·dims for float32, 32x here)
    * plus the reconstruction norm. A [[probePq]] candidate scan reads ONLY
    * (id, codes, rnrm); the scored estimate dot(q, recon(codes)) is
    * mathematically the ADC table-lookup sum Σₘ dot(qₘ, codewordₘ),
    * computed against the driver-resident codebook literal. Exact float
    * rerank of `candFactor · k` candidates, as in [[probeQuantized]].
    *
    * Layout adds `pq/` — (m, j, w): the codebook, a tiny file read at
    * probe time, alongside the same `centroids/` + `lists/cid=` trees.
    */
  def writePq(
      emb: DataFrame,
      path: String,
      nlist: Int = 16,
      numSubspaces: Int = 8,
      ksub: Int = 32,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      filesPerList: Int = 1,
      trainIters: Int = 0,
      pqTrainIters: Int = 0,
      keepCols: Seq[String] = Nil): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(numSubspaces >= 1 && ksub >= 1 && ksub <= 128,
      s"need 1 <= numSubspaces and 1 <= ksub <= 128, got ($numSubspaces, $ksub)")
    build(emb, path, nlist, idCol, vecCol, filesPerList, trainIters, keepCols) { rows =>
      val codebook =
        if (pqTrainIters <= 0) pqCodebook(emb, numSubspaces, ksub, idCol, vecCol)
        else pqCodebookTrained(emb, numSubspaces, ksub, pqTrainIters, idCol, vecCol)
      codebook.zipWithIndex.flatMap { case (words, m) =>
        words.zipWithIndex.map { case (w, j) => (m, j, w.toSeq) }
      }.toSeq.toDF("m", "j", "w")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/pq")
      withPq(rows, codebook)
    }
  }

  /** Probe a PQ index ([[writePq]]): rank each probed list's members by the
    * ADC cosine estimate dot(q, recon(codes)) / (|q|·rnrm) — codes decode
    * against the broadcast codebook literal inside the scan projection, no
    * float vector pages touched — keep `candFactor · k` per query, exact
    * float rescore of the candidates. Output scores are EXACT cosines
    * (round 9), ties by neighbor_id; same serving pattern as
    * [[probeQuantized]], one rung further down the memory ladder. The
    * default cut is 2x SQ8's: the untrained-codebook ADC estimate is
    * coarser, and widening the rerank (still only candFactor·k float rows
    * per query) is the cheap recall dial — measured recall@5 on the test
    * corpus: 0.76 at 4x, 0.94 at 8x, 1.0 at 12x (IvfIndexSpec pins the
    * 8x figure).
    */
  def probePq(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 4,
      candFactor: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      predicate: Option[Column] = None,
      metaCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = readCentroids(spark, path)
    val codebook = readPqCodebook(spark, path)
    val qs = Similarity.ivfProbeSide(queries, cents, nprobe, idCol, vecCol)
    val probed = Similarity.probedCids(qs)
    // filtered search: the predicate restricts both the ADC candidate scan
    // and the float rescore to matching rows (see probeQuantized)
    def lists(cols: Column*): DataFrame =
      readLists(spark, path, probed, predicate).select(cols: _*)
    // probe side: (query_id, float query + its exact norm, probed cid)
    val qsq = Similarity.probeRows(qs)
    val fq = qs.select(col("query_id"), col("q"), col("nq"))
    val scored = lists(col("id").as("neighbor_id"), col("codes"),
        col("rnrm"), col("cid"))
      .join(broadcast(qsq), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        // rounded so an LSB of cross-engine drift can never move the cut
        round(try_divide(dot(col("q"), pqRecon(col("codes"), codebook)),
          col("nq") * col("rnrm")), 9).as("qcos"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val candidates = scored.withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= k * candFactor)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = broadcast(candidates)
      .join(lists(col("id").as("neighbor_id") +: col("v") +: col("nrm") +:
        metaCols.map(col): _*), Seq("neighbor_id"))
      .join(broadcast(fq), Seq("query_id"))
      .select(col("query_id") +: col("neighbor_id") +:
        round(cosine(col("q"), col("v"), col("nq"), col("nrm")), 9).as("cos_sim") +:
        metaCols.map(col): _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id") +: col("rank") +: col("neighbor_id") +:
        col("cos_sim") +: metaCols.map(col): _*)
  }

  /** The deterministic PQ codebook: `[subspace][codeword][dim]` sub-slices
    * of the `ksub` lowest-id vectors (no training — the same convention as
    * the coarse centroids, and the property the oracle SQL replays).
    */
  private[graft] def pqCodebook(
      emb: DataFrame,
      numSubspaces: Int,
      ksub: Int,
      idCol: String,
      vecCol: String): Array[Array[Array[Double]]] = {
    val donors = Similarity.collectCentroids(emb, ksub, idCol, vecCol).map(_._2)
    require(donors.nonEmpty, "PQ codebook needs a non-empty corpus")
    val dims = donors.head.length
    require(dims % numSubspaces == 0,
      s"dims ($dims) must divide evenly into $numSubspaces subspaces")
    val dsub = dims / numSubspaces
    Array.tabulate(numSubspaces)(m => donors.map(_.slice(m * dsub, (m + 1) * dsub)))
  }

  /** TRAINED PQ codebook (VERDICT r15 #7): per-subspace Lloyd iterations
    * seeded from the [[pqCodebook]] donors. Assignment is the SAME native
    * L2-argmin the encoder uses ([[graft.functions.expressions.PqEncode]],
    * ties to the lowest code), updates are the same micro-quantized integer
    * means as [[Clustering.kmeansTrain]] (`floor(x·1e6 + 0.5)` summed as
    * longs, one hash aggregate whose shuffle carries M·ksub sub-vector
    * partials — never the exploded rows×dims), and an emptied codeword
    * keeps its previous value — all deterministic, pure functions of the
    * corpus, so the DuckDB oracle replays the construction exactly. A
    * trained codebook tightens the ADC estimate, so a fixed `candFactor`
    * rerank sees more of each query's true neighborhood (recall ≥ the
    * untrained curve at equal cut; IvfIndexSpec pins it).
    */
  private[graft] def pqCodebookTrained(
      emb: DataFrame,
      numSubspaces: Int,
      ksub: Int,
      iters: Int,
      idCol: String,
      vecCol: String): Array[Array[Array[Double]]] = {
    var cb = pqCodebook(emb, numSubspaces, ksub, idCol, vecCol)
    val dsub = cb.head.head.length
    val base = emb.filter(col(vecCol).isNotNull).select(col(vecCol).as("v"))
    for (_ <- 0 until iters) {
      val rows = base
        .withColumn("codes",
          graft.functions.expressions.PqEncodeExpression.pqEncodeNative(col("v"), cb))
        .select(posexplode(col("codes")).as(Seq("m", "j")), col("v"))
        .select(col("m"), col("j").cast("int").as("j"),
          slice(col("v"), col("m") * dsub + 1, lit(dsub)).as("sv"))
        .groupBy(col("m"), col("j"))
        .agg(
          graft.functions.expressions.VectorSumAgg.vectorMicroSum(col("sv")).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val next = cb.map(_.clone())
      rows.foreach { r =>
        val m = r.getInt(0)
        val j = r.getInt(1)
        val sx = r.getSeq[Long](2)
        val n = r.getLong(3)
        val w = new Array[Double](dsub)
        var i = 0
        while (i < dsub) { w(i) = sx(i).toDouble / (n * 1e6); i += 1 }
        next(m)(j) = w
      }
      cb = next
    }
    cb
  }

  /** The built-in-composed twin of [[graft.functions.expressions.PqEncode]]
    * — per subspace an unrolled `array_min` over per-codeword (squared
    * distance, code) structs. Kept for the bit-equality cross-check
    * (VectorExprSpec); do not use on hot paths — M × ksub unrolled branches
    * hit the same JIT/Janino budget cliff as the unrolled centroid argmax.
    */
  private[graft] def pqEncodeUnrolled(
      vec: Column, codebook: Array[Array[Array[Double]]]): Column = {
    val codes = codebook.toIndexedSeq.zipWithIndex.map { case (words, s) =>
      val dsub = words.head.length
      val lo = s * dsub
      val best = array_min(array(words.toIndexedSeq.zipWithIndex.map { case (cw, j) =>
        val dist = aggregate(sequence(lit(1), lit(dsub)), lit(0.0), (acc, i) =>
          acc + (element_at(vec, lit(lo) + i).cast("double") - element_at(typedlit(cw.toSeq), i)) *
                (element_at(vec, lit(lo) + i).cast("double") - element_at(typedlit(cw.toSeq), i)))
        struct(dist.as("d"), lit(j).as("j"))
      }: _*))
      best.getField("j").cast("byte")
    }
    array(codes: _*)
  }

  /** Reconstruction from codes as a Column: concatenated codeword slices
    * from the broadcast codebook literal — dot(q, recon) IS the ADC sum.
    */
  private[graft] def pqRecon(codes: Column, codebook: Array[Array[Array[Double]]]): Column = {
    val cbLit = typedLit(codebook.map(_.map(_.toSeq).toSeq).toSeq)
    flatten(transform(sequence(lit(0), lit(codebook.length - 1)), m =>
      element_at(element_at(cbLit, m + 1), element_at(codes, m + 1).cast("int") + 1)))
  }

  /** |recon(codes)| as a Column: subspaces are disjoint dims, so the
    * squared norm is the ordered sum of per-codeword squared norms.
    */
  private[graft] def pqReconNorm(codes: Column, codebook: Array[Array[Array[Double]]]): Column = {
    val sqLit = typedLit(codebook.map(_.map(w => w.map(x => x * x).sum).toSeq).toSeq)
    sqrt(aggregate(sequence(lit(0), lit(codebook.length - 1)), lit(0.0), (acc, m) =>
      acc + element_at(element_at(sqLit, m + 1), element_at(codes, m + 1).cast("int") + 1)))
  }

  /** Append new vectors to an existing index WITHOUT rebuilding: assign
    * them against the frozen centroids and write one new committed epoch
    * (`epochs/<e>/lists/cid=<c>/`). Re-running an append after a crash
    * writes a fresh uniquely-named epoch (append does NOT dedup ids — the
    * caller owns id uniqueness, e.g. by appending only post-watermark ids
    * or by fronting the index with the admission store); a STREAMING
    * caller instead passes a deterministic `epochId` keyed by its
    * micro-batch, and a replay uncommits and rewrites that epoch. An empty
    * batch is a no-op, never an epoch. `maxLiveTrees > 0` compacts all but
    * the newest epoch (`keepLatest = 1`) once more trees than that serve.
    *
    * Quantized indexes are detected from the base list schema (`qvec` →
    * SQ8 columns; `codes` → PQ codes re-encoded against the stored
    * codebook), so [[probeQuantized]] / [[probePq]] keep working across
    * epochs.
    *
    * Frozen-centroid caveat (standard IVF serving trade-off): appended
    * vectors are assigned to the ORIGINAL coarse quantizer; if the data
    * distribution drifts far from the build corpus, lists skew and recall
    * degrades — the remedy is a full rebuild, which this layout makes an
    * offline swap rather than a serving outage.
    */
  def append(
      emb: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      filesPerList: Int = 1,
      epochId: Option[String] = None,
      maxLiveTrees: Int = 0,
      sweepGraceMs: Long = 0L): Unit = {
    val spark = emb.sparkSession
    val cents = readCentroids(spark, path)
    // the list schema is frozen for the index's life: metadata columns the
    // build persisted (write's keepCols) ride every appended epoch too, or
    // probe-time predicates would see nulls for this epoch; the rung's
    // marker columns pick the SQ8 / PQ re-encoding
    val baseFields = listFieldNames(spark, path)
    val rows = listRows(emb, idCol, vecCol, (baseFields -- ReservedListCols).toSeq.sorted)
    val withRung =
      if (baseFields.contains("qvec")) withSq8(rows)
      else if (baseFields.contains("codes")) withPq(rows, readPqCodebook(spark, path))
      else rows
    val epoch = epochId.getOrElse(trees(path).newEpochId(spark))
    val assigned = withRung.withColumn("cid", Similarity.centroidAssignExpr(cents))
    if (trees(path).writeTree(spark, epoch)((_, dir) => writeLists(assigned, dir, filesPerList)) &&
        maxLiveTrees > 0 && trees(path).liveTrees(spark).size > maxLiveTrees)
      compact(spark, path, filesPerList, keepLatest = 1, sweepGraceMs = sweepGraceMs)
  }

  /** DELETE vectors from the index without touching the list trees: write
    * one committed tombstone epoch (`tombstones/<e>/`, the ids to remove).
    * Probes anti-join the (small, broadcast) union of committed tombstone
    * sets against the list rows, so a delete is visible at the next probe
    * with zero index IO — the standard serving-index delete shape; the
    * rows leave disk at the next [[compact]], which applies the tombstones
    * while consolidating and retires them in the same commit.
    *
    * Semantics: a tombstoned id is dead until a compaction retires the
    * tombstone — re-[[append]]ing the same id before compacting leaves the
    * new copy masked too (the caller owns id lifecycle, same contract as
    * append's no-dedup rule). Deleting a centroid-donor id removes its
    * VECTOR from serving but not its centroid — the coarse quantizer is
    * frozen by design and centroids are reference points, not corpus
    * members.
    *
    * Re-running a delete writes a fresh uniquely-named epoch (idempotent:
    * tombstoning an id twice is the identity). Ids are written as given —
    * every reader tolerates duplicates (anti-joins, and `describe`'s
    * distinct count), so the write pays no dedupe shuffle.
    */
  def delete(
      ids: DataFrame,
      path: String,
      idCol: String = "vec_id",
      epochId: Option[String] = None): Unit =
    trees(path).writeTombstones(ids.select(col(idCol).cast("long").as("id")), epochId)

  /** The tombstoned ids of `epochs` as written, or None. */
  private def readTombstonesOf(
      spark: SparkSession, path: String, epochs: Seq[String]): Option[DataFrame] =
    trees(path).readTombstones(spark, epochs, "id BIGINT")

  /** Operational snapshot of the index's serving state: one row per live
    * tree — (kind = base|epoch|compact, per-kind ordinal in committed
    * order, exact n_vectors) — plus one `tombstones` row (distinct masked
    * ids) when deletes are live. The vector twin of
    * [[TextIndex.describe]]: an operator reads this to decide when to
    * [[compact]]. The IVF layout stores no per-tree meta, so the counts
    * come from one id-column count per tree (column-pruned scans — a
    * maintenance op, not a probe path).
    */
  def describe(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (live, tombs) = trees(path).live(spark)
    require(live.nonEmpty, s"no index lists at $path — build with write() first")
    val treeRows = live.zip(IndexTrees.kinds(live)).map { case (t, (kind, ordinal)) =>
      (kind, ordinal, spark.read.parquet(listsDir(path, t)).select(col("id")).count())
    }
    val tombRow = readTombstonesOf(spark, path, tombs) match {
      case Some(ts) => Seq(("tombstones", 0L, ts.distinct().count()))
      case None => Seq.empty
    }
    (treeRows ++ tombRow)
      .toDF("kind", "ordinal", "n_vectors")
      .orderBy(col("kind"), col("ordinal"))
  }

  /** Consolidate the base lists and every committed epoch into ONE
    * `compact-*` epoch, then sweep the replaced trees — the maintenance op
    * that stops per-epoch accretion from making probes file-listing-bound.
    * Pure IO: rows are unioned — never re-assigned or re-quantized — with
    * live tombstones APPLIED and retired in the same `_MERGED` commit, so
    * deleted rows leave disk here. `keepLatest` and `sweepGraceMs`: see
    * [[graft.util.IndexTrees.compact]] and its sweep. A grace is REQUIRED
    * when probes run concurrently with maintenance: a probe planned
    * against the old tree list may still be scanning its files, and an
    * immediate sweep fails it with FILE_NOT_EXIST (found by the
    * serving_mixed_churn bench).
    */
  def compact(
      spark: SparkSession,
      path: String,
      filesPerList: Int = 1,
      keepLatest: Int = 0,
      sweepGraceMs: Long = 0L): Unit =
    compact(spark, path, filesPerList, sweep = true, keepLatest, sweepGraceMs)

  /** `sweep = false` stops after the manifest commit (the crash-mid-sweep
    * state the specs build).
    */
  private[graft] def compact(
      spark: SparkSession,
      path: String,
      filesPerList: Int,
      sweep: Boolean,
      keepLatest: Int,
      sweepGraceMs: Long): Unit =
    trees(path).compact(spark, keepLatest, sweep, sweepGraceMs) { (replaced, tombs, cpt) =>
      val all = replaced
        .map(t => spark.read.parquet(listsDir(path, t)).withColumn("cid", col("cid").cast("long")))
        .reduce(_.unionByName(_))
      val live = readTombstonesOf(spark, path, tombs) match {
        case Some(ts) => all.join(broadcast(ts), Seq("id"), "left_anti")
        case None => all
      }
      writeLists(live, listsDir(path, cpt), filesPerList)
    }

  /** Live list-tree paths. */
  private def listRoots(spark: SparkSession, path: String): Seq[String] =
    trees(path).liveTrees(spark).map(listsDir(path, _))

  /** The probed slice of every live list tree as ONE relation: cid pruning
    * happens on the DRIVER, before any relation exists — the probed cid
    * set is known (≤ nlist values from the driver-resident quantizer), so
    * the scan reads exactly the `cid=<c>` directories of every live tree,
    * with `cid` itself recovered from the file path (it is partition
    * metadata; the data files don't store it). |cids| x |trees|
    * directory-existence checks and a single file listing + ONE footer
    * inference (list schemas differ across float/SQ8/PQ indexes), never a
    * per-tree partition discovery — each tree's list-dir count would
    * otherwise trigger a distributed listing job per tree, growing probe
    * cost linearly in the live-tree count. Fallback for an all-empty probe
    * set: per-tree relations under driver-side listing (correctness only —
    * the result is empty).
    */
  private def readLists(
      spark: SparkSession, path: String, probedCids: Seq[Long],
      predicate: Option[Column] = None): DataFrame = {
    // live trees + tombstone epochs from ONE root-keyed cache entry (r18):
    // the probe pays a single FS-signature walk for all its planning facts
    val (live, tombEpochs) = trees(path).live(spark)
    val roots = live.map(listsDir(path, _))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = for {
      r <- roots
      c <- probedCids
      p = new Path(s"$r/cid=$c") if fs.exists(p)
    } yield p.toString
    // the probe-time metadata predicate applies HERE, directly above the
    // scan: the cid-recovery projection below uses input_file_name()
    // (nondeterministic), which blocks predicate pushdown through it — a
    // filter added above that projection never reaches PushedFilters
    def pre(df: DataFrame): DataFrame = predicate.map(df.filter).getOrElse(df)
    val all = graft.util.ProbePlanning.withDriverListing(spark) { ss =>
      if (dirs.isEmpty) {
        val firstTree = ss.read.parquet(roots.head)
        pre((firstTree +: roots.tail.map(r => ss.read.schema(firstTree.schema).parquet(r)))
          .reduce(_.unionByName(_)))
          .withColumn("cid", col("cid").cast("long"))
          .filter(col("cid").isin(probedCids: _*))
      } else {
        // leaf schema is identical across every tree's cid dirs: one
        // part file's footer, read on the driver (no inference job) and
        // cached keyed by the HEAD TREE's immutable lists dir
        val sch = graft.util.IndexMetaCache.getOrCompute(spark, roots.head, "ivf.leafSchema") {
          graft.util.ProbePlanning.footerSchema(spark, dirs.head)
        }
        // the pruned-scan RELATION is cached per index state (r18):
        // resolving `read.parquet(dirs)` lists every pruned cid directory
        // on the driver, re-paid by every probe of an UNCHANGED index.
        // Listing METADATA only, never rows; keyed by the pruned dir set,
        // dropped wholesale on any mutation via the root FS signature
        val rel = graft.util.IndexMetaCache.getOrCompute(
          spark, path, "ivf.scan:" + graft.util.IndexMetaCache.digestOf(dirs)) {
          ss.read.schema(sch).parquet(dirs: _*)
        }
        pre(rel)
          .withColumn("cid",
            regexp_extract(input_file_name(), "cid=(\\d+)", 1).cast("long"))
      }
    }
    // live deletes mask list rows at probe time (small id set, broadcast
    // anti-join over the already-pruned slice)
    readTombstonesOf(spark, path, tombEpochs) match {
      case Some(ts) => all.join(broadcast(ts), Seq("id"), "left_anti")
      case None => all
    }
  }

  /** The driver-resident PQ codebook (numSubspaces · ksub rows, tiny).
    * Cached per index state ([[graft.util.IndexMetaCache]]): the codebook
    * is frozen at build time, so repeated probes skip the read job.
    */
  private def readPqCodebook(
      spark: SparkSession, path: String): Array[Array[Array[Double]]] =
    // keyed by the pq SUBDIRECTORY, not the index root: the codebook is
    // frozen across appends/deletes/compactions (only a rebuild rewrites
    // pq/, which rotates this key's FS signature), so index mutations no
    // longer force the next probe to re-pay the codebook collect job (r17)
    graft.util.IndexMetaCache.getOrCompute(spark, s"$path/pq", "ivf.pq") {
      val rows = spark.read.parquet(s"$path/pq").orderBy(col("m"), col("j")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3)).toArray
    }

  /** The driver-resident coarse quantizer (≤ nlist rows by design).
    * Cached per index state: the quantizer is FROZEN across appends and
    * deletes by the index contract, and a rebuild at the same path
    * changes the FS signature — so serving probes stop paying a collect
    * job per probe for rows that cannot have changed.
    */
  private def readCentroids(
      spark: SparkSession, path: String): Array[(Long, Array[Double], Double)] =
    // keyed by the centroids SUBDIRECTORY, not the index root (r17): the
    // quantizer is frozen across appends/deletes/compactions and only a
    // rebuild rewrites centroids/ — so an append/delete no longer forces
    // the next probe (or the next append's assignment) to re-collect it
    graft.util.IndexMetaCache.getOrCompute(spark, s"$path/centroids", "ivf.centroids") {
      spark.read.parquet(s"$path/centroids").orderBy(col("cid")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    }

  /** Probe a quantized index ([[writeQuantized]]): rank each probed list's
    * members by int8-dot cosine (per-vector scales cancel), keep
    * `candFactor * k` candidates per query, then exact-rescore only the
    * candidates against the float vectors — the SQ8-and-refine serving
    * pattern. Scores in the output are EXACT cosines (round 9), ties by
    * neighbor_id; recall vs [[probe]] < 1 only where the int8 preselect
    * reorders past the candidate cut. Both scans are partition-pruned to
    * the probed cids; the candidate scan reads no float vector pages.
    * Output: (query_id, rank, neighbor_id, cos_sim).
    */
  def probeQuantized(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 4,
      candFactor: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      predicate: Option[Column] = None,
      metaCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = readCentroids(spark, path)
    val qs = Similarity.ivfProbeSide(queries, cents, nprobe, idCol, vecCol)
    // quantized probe side: (query_id, quantized query, a probed cid), the
    // int8 form projected inline from the same query vector
    val qsq = Similarity.probeRows(qs)
      .withColumn("qq", graft.functions.expressions.QuantizeExpression
        .quantizeNative(col("q")).getField("qvec"))
      .select(col("query_id"), col("cid"), col("qq"), l2Norm(col("qq")).as("qqn"))
    val probed = Similarity.probedCids(qs)
    // the serving predicate (filtered search) applies at BOTH consumers of
    // the pruned lists — candidates are preselected among matching rows
    // only, and the rescore sees the same filtered view
    def lists(cols: Column*): DataFrame =
      readLists(spark, path, probed, predicate).select(cols: _*)
    val qscored = lists(col("id").as("neighbor_id"), col("qvec").as("qv"),
        col("qnrm").as("qnv"), col("cid"))
      .join(broadcast(qsq), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        try_divide(dot(col("qq"), col("qv")), col("qqn") * col("qnv")).as("qcos"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val candidates = qscored.withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= k * candFactor)
      .select(col("query_id"), col("neighbor_id"))
    val fq = qs.select(col("query_id"), col("q"), col("nq"))
    val rescored = broadcast(candidates)
      .join(lists(col("id").as("neighbor_id") +: col("v") +: col("nrm") +:
        metaCols.map(col): _*), Seq("neighbor_id"))
      .join(broadcast(fq), Seq("query_id"))
      .select(col("query_id") +: col("neighbor_id") +:
        round(cosine(col("q"), col("v"), col("nq"), col("nrm")), 9).as("cos_sim") +:
        metaCols.map(col): _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id") +: col("rank") +: col("neighbor_id") +:
        col("cos_sim") +: metaCols.map(col): _*)
  }

  /** Probe the index: exact cosine top-k of each query over its `nprobe`
    * nearest inverted lists. Output (query_id, rank, neighbor_id, cos_sim)
    * — bit-identical to [[Similarity.ivfTopK]] with the same
    * (nlist, nprobe, k) on the indexed corpus.
    *
    * `predicate` is the FILTERED-vector-search dial: a boolean Column
    * over the metadata the build persisted (write's `keepCols`), applied
    * to the list rows BEFORE ranking — top-k among matching vectors, with
    * the filter evaluated at the pruned parquet scan itself (Catalyst
    * pushes a plain comparison into `PushedFilters`), never a post-rank
    * re-query that could return fewer than k survivors.
    */
  def probe(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      predicate: Option[Column] = None,
      metaCols: Seq[String] = Nil): DataFrame = {
    // ≤ nlist rows: the coarse quantizer is driver-resident by design
    val cents = readCentroids(spark, path)
    val qs = Similarity.ivfProbeSide(queries, cents, nprobe, idCol, vecCol)
    // the probed-list set is ≤ nlist values regardless of |queries| —
    // readLists prunes to exactly those directories on the driver
    // metaCols: build-persisted metadata columns (write's keepCols) to
    // carry into the output per neighbor — the serving-TVF surface exposes
    // them so an outer WHERE can become a filtered probe
    val corpus = readLists(spark, path, Similarity.probedCids(qs), predicate)
      .select(col("id").as("neighbor_id") +: col("v") +: col("nrm") +:
        col("cid") +: metaCols.map(col): _*)
    Similarity.ivfRank(corpus, Similarity.probeRows(qs), k, metaCols)
  }

  /** Metadata column names the build persisted into the list rows (write's
    * `keepCols`), discovered from one live tree's footer — everything
    * beyond the engine's own list schema. One driver-side footer read.
    */
  def metaColNames(spark: SparkSession, path: String): Seq[String] = {
    val fields = listFieldNames(spark, path)
    (fields -- ReservedListCols).toSeq.sorted
  }

  /** Which build produced the index — "float" ([[write]]), "sq8"
    * ([[writeQuantized]]) or "pq" ([[writePq]]) — from the list schema's
    * own marker columns. The `graft_ann` TVF dispatches its probe on
    * this, so a user points SQL at any rung of the memory ladder.
    */
  def kindOf(spark: SparkSession, path: String): String = {
    val fields = listFieldNames(spark, path)
    if (fields.contains("qvec")) "sq8"
    else if (fields.contains("codes")) "pq"
    else "float"
  }

  private def listFieldNames(spark: SparkSession, path: String): Set[String] =
    listFields(spark, path).map(_.name).toSet

  private def listFields(
      spark: SparkSession, path: String): Seq[org.apache.spark.sql.types.StructField] = {
    val roots = listRoots(spark, path)
    require(roots.nonEmpty, s"no index lists at $path — build with write() first")
    // keyed by the head tree's immutable lists dir (r17; was the index
    // root): the list schema is frozen for the index's life, so appends/
    // deletes no longer force the TVF's next planning to re-read footers.
    // The data columns only: `cid` is partition metadata, and reserved
    graft.util.IndexMetaCache.getOrCompute(spark, roots.head, "ivf.listFields") {
      graft.util.ProbePlanning.footerSchema(spark, roots.head).fields.toSeq
    }
  }

  /** The metadata columns a probe's output carries, WITH their stored
    * types — what the serving TVF needs to declare its output schema
    * without constructing a probe (a driver footer read, no Spark job).
    * Sorted by name, matching [[metaColNames]].
    */
  def metaColFields(
      spark: SparkSession, path: String): Seq[org.apache.spark.sql.types.StructField] =
    listFields(spark, path)
      .filter(f => !ReservedListCols.contains(f.name))
      .sortBy(_.name)
}
