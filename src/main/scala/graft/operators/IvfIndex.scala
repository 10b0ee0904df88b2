package graft.operators

import org.apache.hadoop.fs.Path

import graft.functions.VectorFunctions._
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
  *     every committed epoch, all still partition-pruned on cid. The same
  *     epoch-commit discipline as the near-dup admission store
  *     ([[graft.streaming.NearDupAdmission]]): an ordinary epoch is
  *     committed iff its lists write carries `_SUCCESS`; a consolidated
  *     `compact-*` epoch ([[compact]]) is committed iff its `_MERGED`
  *     manifest exists (written last via atomic rename — the data write
  *     landing first must stay invisible or it and the roots it copied
  *     would both be served).
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

  /** Uncommit the base before a (re)build: the base's commit marker is its
    * lists `_SUCCESS` — the last write of every builder — so dropping it
    * first means a crash mid-build leaves the base invisible to
    * [[listRootsWithIds]] instead of pairing stale lists with fresh
    * centroids, mirroring the epoch commit protocol.
    */
  private def uncommitBase(spark: SparkSession, path: String): Unit = {
    val p = new Path(s"$path/lists/_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
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
      keepCols: Seq[String] = Nil): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    requireKeepCols(keepCols)
    uncommitBase(spark, path)
    val cents = buildCentroids(emb, resolveNlist(emb, nlist), idCol, vecCol, trainIters)
    cents.toSeq.toDF("cid", "cv", "cnrm")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val assigned = emb
      .select(col(idCol).as("id") +: col(vecCol).as("v") +:
        l2Norm(col(vecCol)).as("nrm") +: keepCols.map(col): _*)
      .withColumn("cid", Similarity.centroidAssignExpr(cents))
    val clustered =
      if (filesPerList <= 1) assigned.repartition(col("cid"))
      else assigned.repartition(col("cid"), pmod(xxhash64(col("id")), lit(filesPerList.toLong)))
    clustered.write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists")
    graft.util.IndexMetaCache.stamp(spark, path)
  }

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
      keepCols: Seq[String] = Nil): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    requireKeepCols(keepCols)
    uncommitBase(spark, path)
    val cents = buildCentroids(emb, resolveNlist(emb, nlist), idCol, vecCol, trainIters)
    cents.toSeq.toDF("cid", "cv", "cnrm")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    // SQ8 columns are a PURE PROJECTION of the vector (graft_quantize) —
    // attached inline (r17; was a self-join of the corpus with its own
    // quantized projection on id: a full corpus exchange at scale, paid
    // for columns the scan can compute in place — guide §2.4)
    val qq = graft.functions.expressions.QuantizeExpression.quantizeNative(col("v"))
    val assigned = emb
      .select(col(idCol).as("id") +: col(vecCol).as("v") +:
        l2Norm(col(vecCol)).as("nrm") +: keepCols.map(col): _*)
      .withColumn("__q", qq)
      .withColumn("scale", col("__q").getField("scale"))
      .withColumn("qvec", col("__q").getField("qvec"))
      .withColumn("qnrm", l2Norm(col("qvec")))
      .drop("__q")
      .withColumn("cid", Similarity.centroidAssignExpr(cents))
    val clustered =
      if (filesPerList <= 1) assigned.repartition(col("cid"))
      else assigned.repartition(col("cid"), pmod(xxhash64(col("id")), lit(filesPerList.toLong)))
    clustered.write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists")
    graft.util.IndexMetaCache.stamp(spark, path)
  }

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
    requireKeepCols(keepCols)
    uncommitBase(spark, path)
    val cents = buildCentroids(emb, resolveNlist(emb, nlist), idCol, vecCol, trainIters)
    cents.toSeq.toDF("cid", "cv", "cnrm")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val codebook =
      if (pqTrainIters <= 0) pqCodebook(emb, numSubspaces, ksub, idCol, vecCol)
      else pqCodebookTrained(emb, numSubspaces, ksub, pqTrainIters, idCol, vecCol)
    codebook.zipWithIndex.flatMap { case (words, m) =>
      words.zipWithIndex.map { case (w, j) => (m, j, w.toSeq) }
    }.toSeq.toDF("m", "j", "w")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/pq")
    val assigned = emb
      .select(col(idCol).as("id") +: col(vecCol).as("v") +:
        l2Norm(col(vecCol)).as("nrm") +: keepCols.map(col): _*)
      .withColumn("cid", Similarity.centroidAssignExpr(cents))
      .withColumn("codes",
        graft.functions.expressions.PqEncodeExpression.pqEncodeNative(col("v"), codebook))
      .withColumn("rnrm", pqReconNorm(col("codes"), codebook))
    val clustered =
      if (filesPerList <= 1) assigned.repartition(col("cid"))
      else assigned.repartition(col("cid"), pmod(xxhash64(col("id")), lit(filesPerList.toLong)))
    clustered.write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists")
    graft.util.IndexMetaCache.stamp(spark, path)
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
    * (`epochs/<e>/lists/cid=<c>/`). The epoch's single lists write is its
    * commit unit — a crash mid-write leaves no `_SUCCESS` and the epoch is
    * invisible wholesale; re-running the append after a crash writes a
    * fresh uniquely-named epoch (append does NOT dedup ids — the caller
    * owns id uniqueness, e.g. by appending only post-watermark ids or by
    * fronting the index with the admission store).
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
    val roots = listRoots(spark, path)
    require(roots.nonEmpty, s"no index lists at $path — build with write() first")
    // cached keyed by the head tree's immutable lists dir (r17): the list
    // schema is frozen for the index's life, so the per-append partition
    // discovery + footer read runs once, not once per append
    val baseFields = graft.util.IndexMetaCache
      .getOrCompute(spark, roots.head, "ivf.baseFields") {
        spark.read.parquet(roots.head).schema.fieldNames.toSet
      }
    // metadata columns the build persisted (write's keepCols): everything
    // beyond the engine's own list schema — appended rows must carry them
    // too, or probe-time predicates would see nulls for this epoch
    val metaCols = (baseFields -- Set(
      "id", "v", "nrm", "cid", "qvec", "scale", "qnrm", "codes", "rnrm")).toSeq.sorted
    val base = emb
      .select(col(idCol).as("id") +: col(vecCol).as("v") +:
        l2Norm(col(vecCol)).as("nrm") +: metaCols.map(col): _*)
    val withQ =
      if (baseFields.contains("qvec")) {
        // inline projection, not a self-join on id — same r17 fix as
        // [[writeQuantized]] (the appended batch would otherwise pay a
        // corpus exchange for scan-computable columns)
        val qq = graft.functions.expressions.QuantizeExpression.quantizeNative(col("v"))
        base
          .withColumn("__q", qq)
          .withColumn("scale", col("__q").getField("scale"))
          .withColumn("qvec", col("__q").getField("qvec"))
          .withColumn("qnrm", l2Norm(col("qvec")))
          .drop("__q")
      } else if (baseFields.contains("codes")) {
        val codebook = readPqCodebook(spark, path)
        base
          .withColumn("codes",
            graft.functions.expressions.PqEncodeExpression.pqEncodeNative(col("v"), codebook))
          .withColumn("rnrm", pqReconNorm(col("codes"), codebook))
      } else base
    val assigned = withQ.withColumn("cid", Similarity.centroidAssignExpr(cents))
    val clustered =
      if (filesPerList <= 1) assigned.repartition(col("cid"))
      else assigned.repartition(col("cid"), pmod(xxhash64(col("id")), lit(filesPerList.toLong)))
    // default: unique per call (count prefix is cosmetic ordering; the uuid
    // is the collision guard) — a crashed append never collides with its
    // retry. A STREAMING caller instead passes a DETERMINISTIC `epochId`
    // keyed by its micro-batch id: an at-least-once replay then OVERWRITES
    // its own epoch (the overwrite drops `_SUCCESS` first, so the epoch is
    // invisible during the rewrite) instead of double-serving the batch.
    val epoch = epochId.getOrElse(
      f"${rawEpochs(spark, path).size}%08d-${java.util.UUID.randomUUID.toString.take(8)}")
    clustered.write.mode("overwrite").partitionBy("cid").parquet(s"$path/epochs/$epoch/lists")
    // an EMPTY append must be a NO-OP, never an epoch: a zero-row epoch
    // directory has no parquet footers, so every later probe/compaction
    // that opens it dies on schema inference — a data-dependent poison
    // pill planted by whatever upstream filter happened to match nothing
    // (an empty micro-batch, an ingest slice past the corpus end).
    // Detected AFTER the write by one FS listing (a zero-row partitioned
    // write leaves no cid= dirs), so the common non-empty path pays no
    // extra Spark job — an up-front isEmpty cost a scheduling round per
    // append, measured ~0.2 s x 11 ops per epoch-store build.
    if (dropEpochIfRowless(spark, s"$path/epochs/$epoch", "lists", "cid=")) return
    graft.util.IndexMetaCache.stamp(spark, path)
    // auto-compaction dial (same as the streaming ingesters'): once more
    // than `maxLiveTrees` trees serve, fold all but the newest epoch into
    // one compact tree — probe planning cost stays flat across unbounded
    // appends with no manual maintenance. keepLatest = 1 so a caller that
    // replays its own newest epoch (deterministic epochId) rewrites only
    // itself. 0 disables (default: existing callers manage compaction).
    if (maxLiveTrees > 0 && liveTreeIds(spark, path).size > maxLiveTrees)
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
    * Crash contract: the epoch's `_SUCCESS` is its commit marker — a crash
    * mid-write leaves it invisible; re-running the delete writes a fresh
    * uniquely-named epoch (idempotent: tombstoning an id twice is the
    * identity).
    */
  def delete(
      ids: DataFrame,
      path: String,
      idCol: String = "vec_id",
      epochId: Option[String] = None): Unit = {
    // empty tombstone set: no-op — never a pointless epoch (unlike the
    // appends' free post-write detection, a coalesce(1) write of an empty
    // frame DOES emit a footer-valid zero-row part file, so the guard
    // here is an up-front isEmpty; deletes are rare enough that the one
    // scheduling round does not matter)
    if (ids.isEmpty) return
    val spark = ids.sparkSession
    val epoch = epochId.getOrElse(
      f"${rawTombstoneEpochs(spark, path).size}%08d-${java.util.UUID.randomUUID.toString.take(8)}")
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/tombstones/$epoch")
    graft.util.IndexMetaCache.stamp(spark, path)
  }

  /** Delete `root` (an epoch/tombstone directory) when its `sub` payload
    * directory contains no entry starting with `prefix` — the signature of
    * a ZERO-ROW write (only `_SUCCESS`, no partition dirs / part files),
    * which would poison later schema inference. Returns true when dropped.
    * Pure FS metadata — no Spark job.
    */
  private[operators] def dropEpochIfRowless(
      spark: SparkSession, root: String, sub: String, prefix: String): Boolean = {
    val payload = new Path(if (sub.isEmpty) root else s"$root/$sub")
    val fs = payload.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasRows = fs.exists(payload) &&
      fs.listStatus(payload).exists(_.getPath.getName.startsWith(prefix))
    if (!hasRows) fs.delete(new Path(root), true)
    !hasRows
  }

  /** Every tombstone epoch directory name, committed or not. */
  private def rawTombstoneEpochs(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(s"$path/tombstones")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Committed tombstone epochs, minus any a compaction already applied.
    * Cached keyed by the mutable root — same invalidate-per-mutation
    * rationale as [[listRootsWithIds]] (probes read the [[probePlan]]
    * bundle instead).
    */
  private def liveTombstoneEpochs(spark: SparkSession, path: String): Seq[String] =
    graft.util.IndexMetaCache.getOrCompute(spark, path, "ivf.liveTombstoneEpochs") {
      liveTombstoneEpochsNow(spark, path)
    }

  private def liveTombstoneEpochsNow(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = mergedIds(spark, path)
    rawTombstoneEpochs(spark, path)
      .filter(e => fs.exists(new Path(s"$path/tombstones/$e/_SUCCESS")))
      .filterNot(e => dead.contains(s"tombstones/$e"))
  }

  /** The live tombstoned ids as written (an id deleted twice appears
    * twice — an anti-join needs no dedupe), or None when nothing is
    * deleted. The tombstone schema is fixed by [[delete]], so the read
    * infers nothing and lists on the driver: no Spark job to plan it.
    */
  private def readTombstones(spark: SparkSession, path: String): Option[DataFrame] =
    readTombstonesOf(spark, path, liveTombstoneEpochs(spark, path))

  private def readTombstonesOf(
      spark: SparkSession, path: String, epochs: Seq[String]): Option[DataFrame] =
    if (epochs.isEmpty) None
    else Some(graft.util.ProbePlanning.withDriverListing(spark) { ss =>
      ss.read.schema("id BIGINT").parquet(epochs.map(e => s"$path/tombstones/$e"): _*)
    })

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
    val roots = listRootsWithIds(spark, path)
    require(roots.nonEmpty, s"no index lists at $path — build with write() first")
    def kindOf(t: String) =
      if (t == "base") "base" else if (t.startsWith("compact-")) "compact" else "epoch"
    val ordinals = roots.map(_._1).groupBy(kindOf).flatMap { case (_, ts) =>
      ts.zipWithIndex.map { case (t, i) => t -> i.toLong }
    }
    val treeRows = roots.map { case (t, r) =>
      (kindOf(t), ordinals(t), spark.read.parquet(r).select(col("id")).count())
    }
    val tombRow = readTombstones(spark, path) match {
      case Some(ts) => Seq(("tombstones", 0L, ts.distinct().count()))
      case None => Seq.empty
    }
    (treeRows ++ tombRow)
      .toDF("kind", "ordinal", "n_vectors")
      .orderBy(col("kind"), col("ordinal"))
  }

  /** Consolidate the base lists and every committed epoch into ONE
    * `compact-*` epoch, then sweep the replaced trees — the maintenance op
    * that stops per-epoch accretion from making probes file-listing-bound
    * (same small-files argument as the admission store's compaction). Pure
    * IO: rows are unioned — never re-assigned or re-quantized — with live
    * tombstones APPLIED and retired in the same `_MERGED` commit (the
    * manifest names them alongside the replaced roots), so deleted rows
    * leave disk here.
    *
    * Crash contract: the consolidated epoch's commit marker is its
    * `_MERGED` manifest, written last via atomic rename and naming the
    * roots it replaced; a crash before the rename leaves an orphaned,
    * invisible compact tree (reclaimed by the next sweep), a crash after
    * it leaves replaced trees that are already invisible. Run between
    * probes/appends — maintenance does not race itself.
    */
  def compact(
      spark: SparkSession,
      path: String,
      filesPerList: Int = 1,
      keepLatest: Int = 0,
      sweepGraceMs: Long = 0L): Unit =
    compact(spark, path, filesPerList, sweep = true, keepLatest, sweepGraceMs)

  private[graft] def compact(
      spark: SparkSession,
      path: String,
      filesPerList: Int,
      sweep: Boolean): Unit =
    compact(spark, path, filesPerList, sweep, keepLatest = 0, sweepGraceMs = 0L)

  /** `sweep = false` stops after the manifest commit (the crash-mid-sweep
    * state; exercised by IvfIndexSpec — production uses the sweeping
    * overload). `keepLatest > 0` excludes the newest N ordinary epochs from
    * the merge (the streaming ingester's replay-safety guard: an epoch not
    * yet past its streaming checkpoint must stay un-merged so a replay
    * rewrites only itself); tombstones are applied and retired only on a
    * FULL compact, since a protected epoch may hold rows of a tombstoned id
    * and retiring the tombstone would resurrect them. `sweepGraceMs > 0`
    * defers reclaiming a replaced tree until its manifest has aged past
    * the window — REQUIRED when probes run concurrently with maintenance
    * (a probe planned against the old tree list may still be scanning its
    * files; an immediate sweep fails it with FILE_NOT_EXIST — found by the
    * serving_mixed_churn bench). Replaced trees are invisible to every
    * NEW plan the moment the manifest commits either way; the grace only
    * delays the disk reclaim, and any later sweep (e.g. the next
    * auto-compaction) reclaims what has aged out.
    */
  private[graft] def compact(
      spark: SparkSession,
      path: String,
      filesPerList: Int,
      sweep: Boolean,
      keepLatest: Int,
      sweepGraceMs: Long): Unit = {
    val allRoots = listRootsWithIds(spark, path)
    val protectSet = allRoots.map(_._1)
      .filter(t => t != "base" && !t.startsWith("compact-"))
      .sorted.takeRight(keepLatest).toSet
    val roots = allRoots.filterNot(r => protectSet(r._1))
    val tombstones =
      if (protectSet.isEmpty) liveTombstoneEpochs(spark, path) else Seq.empty
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (roots.size > 1 || (roots.nonEmpty && tombstones.nonEmpty)) {
      val all = roots.map(_._2)
        .map(r => spark.read.parquet(r).withColumn("cid", col("cid").cast("long")))
        .reduce(_.unionByName(_))
      // apply live deletes permanently: the consolidated tree is the
      // anti-joined survivors, and the manifest retires the tombstone
      // epochs in the same commit
      val live =
        (if (protectSet.isEmpty) readTombstones(spark, path) else None) match {
          case Some(ts) => all.join(broadcast(ts), Seq("id"), "left_anti")
          case None => all
        }
      val clustered =
        if (filesPerList <= 1) live.repartition(col("cid"))
        else live.repartition(col("cid"), pmod(xxhash64(col("id")), lit(filesPerList.toLong)))
      val cpt = s"compact-${java.util.UUID.randomUUID.toString.take(8)}"
      clustered.write.mode("overwrite").partitionBy("cid")
        .parquet(s"$path/epochs/$cpt/lists")
      val tmp = new Path(s"$path/epochs/$cpt/lists/_MERGED.tmp")
      val out = fs.create(tmp, true)
      try out.write((roots.map(_._1) ++ tombstones.map(e => s"tombstones/$e"))
        .mkString("\n").getBytes("UTF-8")) finally out.close()
      fs.rename(tmp, new Path(s"$path/epochs/$cpt/lists/_MERGED"))
      graft.util.IndexMetaCache.stamp(spark, path)
    }
    if (sweep) sweepMerged(spark, path, sweepGraceMs)
  }

  /** Delete list trees a committed `_MERGED` manifest replaced — but only
    * once that manifest has aged `graceMs` (see [[compact]]'s
    * serving-concurrency note; replaced trees are invisible to new plans
    * regardless) — plus any orphaned pre-manifest compact tree, which no
    * reader can ever have planned against.
    *
    * ORDERING INVARIANT (the churn test's resurrection catch): a COMPACT
    * tree is reclaimed only after every tree its OWN manifest names is
    * already gone. Its manifest is the only record keeping those trees
    * dead — deleting it while a grace window still defers them would
    * resurrect them next to their consolidated copy (double-serving).
    * Manifests are processed oldest-first so one full-aged sweep settles
    * a whole chain; anything still guarded is left for a later sweep.
    */
  private def sweepMerged(spark: SparkSession, path: String, graceMs: Long = 0L): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    def manifestOf(e: String) = new Path(s"$path/epochs/$e/lists/_MERGED")
    def namedIds(m: Path): List[String] = {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    def treeGone(id: String): Boolean = id match {
      case "base" => !fs.exists(new Path(s"$path/lists"))
      case t if t.startsWith("tombstones/") => !fs.exists(new Path(s"$path/$t"))
      case e2 => !fs.exists(new Path(s"$path/epochs/$e2"))
    }
    val manifests = committedEpochIds(spark, path)
      .map(manifestOf).filter(fs.exists(_))
      .map(m => (m, fs.getFileStatus(m).getModificationTime))
      .sortBy(_._2)
    for ((m, mtime) <- manifests
         if graceMs <= 0L || now - mtime >= graceMs) {
      namedIds(m).foreach {
        case "base" => fs.delete(new Path(s"$path/lists"), true)
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
        !fs.exists(new Path(s"$path/epochs/$e/lists/_MERGED")))
      .foreach(e => fs.delete(new Path(s"$path/epochs/$e"), true))
  }

  /** Root ids named by any committed compact manifest ("base" = the
    * original `lists` tree).
    */
  private def mergedIds(spark: SparkSession, path: String): Set[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedEpochIds(spark, path).flatMap { e =>
      val m = new Path(s"$path/epochs/$e/lists/_MERGED")
      if (!fs.exists(m)) Seq.empty
      else {
        val in = fs.open(m)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
    }.toSet
  }

  /** Every epoch directory name under `path/epochs`, committed or not. */
  private def rawEpochs(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(s"$path/epochs")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Committed epoch ids: ordinary epochs need their lists `_SUCCESS`;
    * compact epochs need their `_MERGED` manifest (see [[compact]]).
    */
  private def committedEpochIds(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    rawEpochs(spark, path).filter { e =>
      if (e.startsWith("compact-")) fs.exists(new Path(s"$path/epochs/$e/lists/_MERGED"))
      else fs.exists(new Path(s"$path/epochs/$e/lists/_SUCCESS"))
    }
  }

  /** (id, path) of every live list tree: the base `lists` plus committed
    * epochs, minus anything a committed compaction replaced.
    *
    * Cached keyed by the MUTABLE index root (r18): the listing is a
    * function of the tree set, so it must invalidate per mutation — which
    * the root's FS signature does (every writer stamps) — but between
    * mutations a multi-tree epoch store was paying full epoch listings,
    * per-epoch commit-marker exists checks and compact-manifest reads on
    * every probe-planning call (the r17 re-key moved this walk out of the
    * cached block; epochs probes regressed ~20–40%). One signature walk
    * per call remains, as it must — which is why the probe path reads the
    * [[probePlan]] bundle instead of calling this repeatedly.
    */
  private def listRootsWithIds(spark: SparkSession, path: String): Seq[(String, String)] =
    graft.util.IndexMetaCache.getOrCompute(spark, path, "ivf.listRootsWithIds") {
      listRootsWithIdsNow(spark, path)
    }

  private def listRootsWithIdsNow(
      spark: SparkSession, path: String): Seq[(String, String)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = mergedIds(spark, path)
    // base live iff its lists `_SUCCESS` exists — the marker every builder
    // writes LAST ([[uncommitBase]]), so a half-built base stays invisible
    val base =
      if (fs.exists(new Path(s"$path/lists/_SUCCESS")) && !dead.contains("base"))
        Seq("base" -> s"$path/lists")
      else Seq.empty
    base ++ committedEpochIds(spark, path)
      .filterNot(dead)
      .map(e => e -> s"$path/epochs/$e/lists")
  }

  /** Everything a probe's PLANNING needs — live list roots and the live
    * tombstone epochs — as ONE root-keyed cache entry, so a probe pays
    * exactly ONE FS-signature walk (r18: per-kind keys each re-derive the
    * signature per call; multiple planning lookups per probe measured as
    * the epochs-probe floor). Mutations invalidate through the root
    * signature (every writer stamps).
    */
  private def probePlan(
      spark: SparkSession, path: String): (Seq[(String, String)], Seq[String]) =
    graft.util.IndexMetaCache.getOrCompute(spark, path, "ivf.probePlan") {
      (listRootsWithIdsNow(spark, path), liveTombstoneEpochsNow(spark, path))
    }

  /** Live tree ids (base + committed epochs) — the streaming ingester's
    * liveness/auto-compaction probe.
    */
  private[graft] def liveTreeIds(spark: SparkSession, path: String): Seq[String] =
    listRootsWithIds(spark, path).map(_._1)

  /** Live list-tree paths for a probe. */
  private def listRoots(spark: SparkSession, path: String): Seq[String] =
    listRootsWithIds(spark, path).map(_._2)

  /** One DataFrame over every live list tree: each tree is loaded as its
    * own partition-discovery base and the trees are unioned — Spark cannot
    * infer a single partitioning across base + epoch roots (conflicting
    * directory structures), but a `cid` predicate pushes through the union
    * into EVERY per-tree scan, so probes stay partition-pruned in each
    * (IvfIndexSpec pins filters + selected-directory counts across all
    * scans).
    */
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
    // roots + tombstone epochs from the ONE root-keyed bundle (r18): the
    // probe pays a single FS-signature walk for all its planning facts
    val (rootsWithIds, tombEpochs) = probePlan(spark, path)
    val roots = rootsWithIds.map(_._2)
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
