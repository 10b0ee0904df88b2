package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design: the query set is small and broadcast (no shuffle of the
  * corpus); norms are computed once per vector in the scan projection; the
  * per-query top-k uses a window over (query, score) which shuffles only
  * (corpus × |queries|) score rows, never the vectors themselves. The LSH
  * variant buckets the corpus by deterministic random-hyperplane signatures
  * so each query only scores its own bucket — the 100 TB path, where the
  * brute-force cross product is no longer affordable.
  */
object Similarity {

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id, cos_sim) — cos_sim rounded to
    * 9 dp for cross-engine reproducibility.
    */
  def bruteForceTopK(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val corpus = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nv"))
    val qs = queries.select(col(idCol).as("query_id"), col(vecCol).as("q"),
      l2Norm(col(vecCol)).as("nq"))
    val scored = corpus.join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q"), col("v"), col("nq"), col("nv")), 9).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Micro-averaged recall of an approximate ANN result against exact
    * ground truth — THE quality metric an ANN deployment is tuned by
    * (recall@k vs nprobe is the knob a serving engine trades latency
    * against). Both inputs carry (query_id, neighbor_id); the output is
    * one row: n_true (ground-truth pairs), n_found (of those, how many the
    * approximate result returned), recall = n_found / n_true.
    *
    * Scale shape: one equi-join on (query_id, neighbor_id) — both sides
    * are top-k results, k·|queries| rows, so the join is broadcast-sized
    * by construction regardless of corpus size.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(1L))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(broadcast(a), Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(coalesce(col("__hit"), lit(0L))), lit(0L)).as("n_found"))
      // explicit NaN on an empty ground-truth set: ANSI mode would raise
      // DIVIDE_BY_ZERO, and NaN is the IEEE 0/0 the oracle engine returns
      .withColumn("recall",
        when(col("n_true") === 0L, lit(Double.NaN))
          .otherwise(col("n_found").cast("double") / col("n_true").cast("double")))
  }

  /** Deterministic random-hyperplane signature: `numPlanes` sign bits from
    * globally-numbered planes `planeBase .. planeBase + numPlanes - 1`.
    * Plane coefficients come from a fixed integer LCG over (plane, dim)
    * mapped to [-0.5, 0.5) — engine-independent, no stored model, and
    * exactly replicable in ANSI SQL (pure integer arithmetic, unlike
    * xxhash64), which makes the bucketed search DuckDB-oracle-checkable.
    */
  private def planeSignature(vec: org.apache.spark.sql.Column, planeBase: Int, numPlanes: Int) =
    graft.functions.expressions.HyperplaneExpression.hyperplaneSigNative(vec, planeBase, numPlanes)

  /** The built-in-function form of [[planeSignature]] — `numPlanes`
    * interpreted zip_with/aggregate folds per row, retained as the
    * bit-equality cross-check of the native expression (VectorExprSpec),
    * mirroring `polyHashHof` / `wordShingles`.
    */
  /** dot(v, plane_p) where plane_p[i] = lcg(p, i)/1e6 - 0.5 — the exact
    * fold the native signature expression evaluates per plane (bit-equal,
    * VectorExprSpec), exposed so the multi-probe margin ranking uses the
    * SAME arithmetic the oracle's dots CTE replays.
    */
  private def planeDot(vec: org.apache.spark.sql.Column, p: Int) =
    aggregate(
      zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
        x.cast("double") *
          ((pmod((lit(p.toLong * 1000003L) + i) * lit(2654435761L) + lit(12345L), lit(1000000L))
            .cast("double") / lit(1000000.0)) - lit(0.5))),
      lit(0.0), (acc, x) => acc + x)

  private[graft] def planeSignatureHof(
      vec: org.apache.spark.sql.Column, planeBase: Int, numPlanes: Int) = {
    val planeDots = (0 until numPlanes).map(j => planeDot(vec, planeBase + j))
    planeDots.zipWithIndex.map { case (d, j) =>
      when(d > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** LSH-bucketed ANN with `numTables` independent hyperplane tables of
    * `numPlanes` sign bits each: a candidate only needs to share a bucket
    * in ONE table (the standard L-tables recall knob — one table of k bits
    * has recall ~(1 - theta/pi)^k per neighbor, L tables lift it to
    * 1-(1-r)^L). Candidates are deduped across tables, then scored exactly.
    * Output: (query_id, rank, neighbor_id, cos_sim) — approximate (recall
    * < 1), which is the trade the bucket join buys at scale.
    *
    * `multiProbe` (default 0 = off, preserving the original candidate set)
    * additionally probes, per table, the buckets reached by flipping the
    * query's `multiProbe` smallest-margin hyperplane bits — a recall knob
    * that changes results; callers opt in explicitly.
    *
    * COMPATIBILITY NOTE: when multi-probe first landed the default was 3,
    * which silently changed every existing caller's candidate set (and
    * therefore results). The default was deliberately reverted to 0 so
    * `lshTopK` is result-stable across versions by default; callers who
    * want the higher-recall behavior pass `multiProbe = 3` explicitly.
    */
  /** One row per (id, table, bucket): the multi-table hyperplane bucket
    * assignment shared by the ANN search and the pair-candidate generator.
    */
  private def hyperplaneBuckets(
      df: DataFrame, outId: String, idCol: String, vecCol: String,
      numPlanes: Int, numTables: Int): DataFrame =
    df.select(col(idCol).as(outId),
      explode(array((0 until numTables).map { t =>
        struct(lit(t).as("t"),
          planeSignature(col(vecCol), t * numPlanes, numPlanes).as("b"))
      }: _*)).as("tb"))
      .select(col(outId), col("tb.t").as("t"), col("tb.b").as("b"))

  def lshTopK(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      numPlanes: Int = 6,
      numTables: Int = 8,
      multiProbe: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def buckets(df: DataFrame, outId: String): DataFrame =
      hyperplaneBuckets(df, outId, idCol, vecCol, numPlanes, numTables)
    // MULTI-PROBE (the standard LSH recall knob without more tables): each
    // query also probes, per table, the buckets reached by flipping its
    // `multiProbe` nearest hyperplane bits — the sign bits most likely to
    // disagree with a true neighbor's are exactly the smallest-|margin|
    // ones, so Hamming-1 probes on those recover most of the neighbors a
    // single bucket misses at a bounded (1 + multiProbe) x L buckets per
    // query. Margins use the same per-plane fold the native signature
    // evaluates (bit-equal), ranked (|dot| asc, plane asc), so the DuckDB
    // oracle replays the probe set exactly from its dots CTE.
    val qb0 = buckets(queries, "query_id")
    val qb =
      if (multiProbe <= 0) qb0
      else {
        val m = math.min(multiProbe, numPlanes)
        val bit = typedLit((0 until numPlanes).map(j => 1L << j))
        val tables = (0 until numTables).map { t =>
          val base = t * numPlanes
          val ranked = slice(sort_array(array((0 until numPlanes).map { j =>
            struct(abs(planeDot(col(vecCol), base + j)).as("d"), lit(j).as("j"))
          }: _*)), 1, m)
          val b = planeSignature(col(vecCol), base, numPlanes)
          struct(lit(t).as("t"),
            concat(array(b),
              transform(ranked, f =>
                b.bitwiseXOR(element_at(bit, f.getField("j") + 1)))).as("bs"))
        }
        queries.select(col(idCol).as("query_id"),
            explode(array(tables: _*)).as("tb"))
          .select(col("query_id"), col("tb.t").as("t"),
            explode(col("tb.bs")).as("b"))
      }
    val cand = buckets(emb, "neighbor_id")
      .join(broadcast(qb), Seq("t", "b"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val corpus = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nv"))
    val qs = queries.select(col(idCol).as("query_id"), col(vecCol).as("q"),
      l2Norm(col(vecCol)).as("nq"))
    val scored = cand
      .join(corpus, Seq("neighbor_id"))
      .join(broadcast(qs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q"), col("v"), col("nq"), col("nv")), 9).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** IVF-flavored ANN: a coarse quantizer of `nlist` deterministic centroid
    * vectors (the lowest-id corpus vectors — fixed, no training iterations)
    * partitions the corpus into inverted lists; each query scores only the
    * lists of its `nprobe` nearest centroids. Compared to the hyperplane-LSH
    * variant this gives directly tunable probe cost (`nprobe/nlist` of the
    * corpus scanned per query) — the classic memory-bandwidth trade at
    * billion-vector scale. Recall < 1 by design; returned scores are exact.
    * Output: (query_id, rank, neighbor_id, cos_sim).
    */
  def ivfTopK(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val normed = emb.select(col(idCol).as("id"), col(vecCol).as("v"), l2Norm(col(vecCol)).as("nrm"))
    val cents = collectCentroids(emb, nlist, idCol, vecCol)
    val corpus = normed
      .withColumn("cid", centroidAssignExpr(cents))
      .select(col("id").as("neighbor_id"), col("v"), col("nrm"), col("cid"))
    ivfRank(corpus, probeRows(ivfProbeSide(queries, cents, nprobe, idCol, vecCol)), k)
  }

  /** The coarse quantizer of [[ivfTopK]]/[[IvfIndex]]: tiny and fixed — ONE
    * TakeOrdered job collects the `nlist` lowest-id raw vectors; norms are
    * folded on the driver in the same index order as the native dot
    * expression (sequential IEEE adds), so every downstream cosine is
    * bit-identical to computing them in-plan. Centroids are held as double:
    * float→double widening is exact and the dot expression widens every
    * element to double before multiplying anyway, so the literal arrays
    * score bit-identically to the float originals while also accepting
    * array<double> corpora; ids are cast to long in-plan (the Number match
    * below is for vector ELEMENTS, covering float and double arrays alike).
    */
  private[graft] def collectCentroids(
      emb: DataFrame,
      nlist: Int,
      idCol: String,
      vecCol: String): Array[(Long, Array[Double], Double)] =
    emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(nlist)
      .collect().map { r =>
        val cv = r.getSeq[Any](1).map {
          case n: Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"ivfTopK requires a numeric-array '$vecCol' column, " +
              s"got element ${if (other == null) "NULL" else other.getClass.getName}")
        }.toArray
        var acc = 0.0
        var i = 0
        while (i < cv.length) { acc += cv(i) * cv(i); i += 1 }
        (r.getLong(0), cv, math.sqrt(acc))
      }

  /** Nearest-centroid id for a corpus row exposing ("v", "nrm") columns —
    * a per-row argmax EXPRESSION evaluated inside the scan stage — not a
    * corpus×nlist join feeding a row_number window. Tie-break matches a
    * (csim DESC, cid ASC) ranking. Native ([[graft.functions.expressions
    * .NearestCentroid]]) because the built-in-composed form below unrolls
    * `nlist` cosine branches into one projection method: correct, but past
    * ~32 branches the generated code overruns the JIT/Janino budget and the
    * whole argmax runs interpreted — 34 s vs ~1 s on 100k x 64-dim rows at
    * nlist=64. The native loop is `nlist`-independent codegen.
    */
  private[graft] def centroidAssignExpr(
      cents: Array[(Long, Array[Double], Double)]): org.apache.spark.sql.Column =
    graft.functions.expressions.NearestCentroidExpression
      .nearestCentroidNative(col("v"), col("nrm"), cents)

  /** The built-in-composed twin of [[centroidAssignExpr]] — unrolled
    * `array_max` over per-centroid (cosine, -cid) structs. Kept for the
    * bit-equality cross-check (PipelineSpec); do not use on hot paths at
    * large `nlist` (see above).
    */
  private[graft] def centroidAssignExprUnrolled(
      cents: Array[(Long, Array[Double], Double)]): org.apache.spark.sql.Column = {
    val best = array_max(array(cents.toIndexedSeq.map { case (cid, cv, cnrm) =>
      struct(cosine(col("v"), typedlit(cv), col("nrm"), lit(cnrm)).as("s"),
        lit(-cid).as("nc"))
    }: _*))
    // coalesce makes cid non-nullable (array_max of nlist non-null structs
    // can never actually be null, the -1 arm is dead): without it the
    // downstream equi-join derives an isnotnull(cid) constraint and pushes
    // the ENTIRE argmax expression into the scan's data filter, evaluating
    // every dot product twice per row — once interpreted. Measured 3-4x on
    // the scoring stage.
    coalesce(-best.getField("nc"), lit(-1L))
  }

  /** Query side of an IVF probe: each query vector with the cids of its
    * `nprobe` nearest centroids → (query_id, q, nq, cids), `cids` nearest
    * first. One codegen'd expression over the driver-resident quantizer
    * ([[graft.functions.expressions.NearestCentroids]]), no cross join and
    * no window, so a local-relation query side stays a local relation.
    * [[probeRows]] explodes it to one row per probed list.
    */
  private[graft] def ivfProbeSide(
      queries: DataFrame,
      cents: Array[(Long, Array[Double], Double)],
      nprobe: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val qn = queries.select(col(idCol).as("query_id"), col(vecCol).as("q"),
      l2Norm(col(vecCol)).as("nq"))
    qn.withColumn("cids", graft.functions.expressions.NearestCentroidExpression
      .nearestCentroidsNative(col("q"), col("nq"), cents, nprobe))
  }

  /** The probe side as (query_id, q, nq, cid): one row per probed list. */
  private[graft] def probeRows(qs: DataFrame): DataFrame =
    qs.select(col("query_id"), col("q"), col("nq"), explode(col("cids")).as("cid"))

  /** The probed-list set of a probe side, ascending: ≤ nlist values. Read
    * from the `cids` column on the driver — no Spark job when the queries
    * are a local relation (the optimizer folds the projection into it).
    */
  private[graft] def probedCids(qs: DataFrame): Seq[Long] =
    qs.select(col("cids")).collect()
      .flatMap(_.getSeq[Long](0)).distinct.sorted.toSeq

  /** Exact re-scoring + per-query top-k over the probed inverted lists:
    * corpus rows (neighbor_id, v, nrm, cid) joined to the probe side on cid.
    */
  private[graft] def ivfRank(
      corpus: DataFrame, qs: DataFrame, k: Int,
      metaCols: Seq[String] = Nil): DataFrame = {
    // metaCols ride along per neighbor row. No trailing distinct: the
    // row_number rank makes (query_id, rank) unique, so rows never repeat
    val scored = corpus.join(broadcast(qs), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id") +: col("neighbor_id") +:
        round(cosine(col("q"), col("v"), col("nq"), col("nrm")), 9).as("cos_sim") +:
        metaCols.map(col): _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id") +: col("rank") +: col("neighbor_id") +:
        col("cos_sim") +: metaCols.map(col): _*)
  }

  /** Deduped candidate pairs (id_a < id_b) that share a hyperplane bucket in
    * at least one of `numTables` tables — the sub-quadratic pair generator
    * (equi-join on (table, bucket), no cross product). Recall per pair at
    * angle theta is `1 - (1 - (1-theta/pi)^numPlanes)^numTables`: excellent
    * for true near-duplicates (small theta), poor for moderate-similarity
    * pairs — see `topCosinePairs` for the measured consequence.
    */
  private[graft] def lshCandidatePairs(
      emb: DataFrame,
      numPlanes: Int,
      numTables: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val b = hyperplaneBuckets(emb, "id", idCol, vecCol, numPlanes, numTables)
    b.as("x").join(b.as("y"), Seq("t", "b"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** Exact cosine for an (id_a, id_b) pair set: two equi-joins against the
    * normed corpus, scored rows only for the candidates.
    */
  private def scorePairs(emb: DataFrame, pairs: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val n = emb.select(col(idCol).as("id"), col(vecCol).as("v"), l2Norm(col(vecCol)).as("nrm"))
    pairs
      .join(n.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(n.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb"), col("na"), col("nb")), 9).as("cos_sim"))
  }

  /** Embedding-cosine near-duplicate pairs: global top-N most similar
    * distinct pairs. Output: (id_a, id_b, cos_sim).
    *
    * `method`:
    *  - `"exact"` — score every pair. The top-N extraction itself is cheap
    *    (`orderBy.limit` compiles to TakeOrderedAndProject: a per-partition
    *    heap, each task emits only N rows — no full sort shuffle); the cost
    *    is the O(n²) cosine evaluations, embarrassingly parallel but
    *    irreducible when the sought pairs are only moderately similar.
    *  - `"lsh"` — score only `lshCandidatePairs`; equi-join plan, no cross
    *    product. Exact precision (candidates are re-scored exactly), recall
    *    < 1: a top pair is missed if it collides in no table.
    *  - `"auto"` (default) — `"exact"` up to `exactLimit` corpus vectors
    *    (one count job), `"lsh"` above.
    *
    * Honest scale guidance, measured on this corpus: hyperplane-LSH
    * candidates are the right tool when top pairs are true near-duplicates
    * (cos >= ~0.9 — the dedup regime; 8 tables x 6 planes recall ~0.98 per
    * pair). When the corpus's top pairs are only moderately similar (here:
    * top-20 at cos 0.44-0.60), recall-1 candidate generation degenerates to
    * near-all-pairs (measured at sf0.01/0.1: 78-96 % of all pairs needed) —
    * global exact top-N at moderate similarity has no sub-quadratic shortcut,
    * which is why `"exact"` stays the default at small n and the threshold
    * form (`cosineNearDupPairs`) is the operator to reach for at 100 TB.
    */
  def topCosinePairs(
      emb: DataFrame,
      topN: Int,
      method: String = "auto",
      exactLimit: Long = 200000L,
      numPlanes: Int = 6,
      numTables: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val resolved = method match {
      case "auto" => if (emb.count() <= exactLimit) "exact" else "lsh"
      case m @ ("exact" | "lsh") => m
      case other => throw new IllegalArgumentException(
        s"topCosinePairs method must be 'exact', 'lsh' or 'auto', got '$other'")
    }
    val scored = resolved match {
      case "exact" =>
        val n = emb.select(col(idCol).as("id"), col(vecCol).as("v"), l2Norm(col(vecCol)).as("nrm"))
        val a = n.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
        val b = n.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(cosine(col("va"), col("vb"), col("na"), col("nb")), 9).as("cos_sim"))
      case _ =>
        scorePairs(emb, lshCandidatePairs(emb, numPlanes, numTables, idCol, vecCol),
          idCol, vecCol)
    }
    scored
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
      .limit(topN)
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold —
    * the dedup-pipeline form of the pair search, and the one that scales:
    * candidates come from the multi-table hyperplane buckets (equi-join,
    * sub-quadratic), each candidate is re-scored exactly, and only pairs
    * with `cos_sim >= minCos` survive. Precision is exact; recall follows
    * the LSH collision curve and is ~1 in the near-duplicate regime this
    * operator is for (see `topCosinePairs` for the measured behavior at
    * moderate similarity). Output: (id_a, id_b, cos_sim).
    */
  def cosineNearDupPairs(
      emb: DataFrame,
      minCos: Double,
      numPlanes: Int = 6,
      numTables: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    scorePairs(emb, lshCandidatePairs(emb, numPlanes, numTables, idCol, vecCol), idCol, vecCol)
      .filter(col("cos_sim") >= lit(minCos))

  /** SemDeDup-style semantic deduplication [Abbas et al., 2023,
    * arXiv:2303.09540]: assign every vector to its nearest coarse centroid
    * (the deterministic lowest-id convention shared with [[ivfTopK]] /
    * `IvfIndex`), then drop any vector that has a SMALLER-id τ-similar
    * neighbor in the SAME cluster — one deterministic keeper per semantic
    * neighborhood, no RNG, no stored model.
    *
    * Scale design: this is exactly the SemDeDup trick — the within-cluster
    * equi-join on `cid` bounds the pairwise cosine work to cluster volumes
    * (Σ|c|² instead of n²), and `nlist` is the dial that keeps clusters
    * small as the corpus grows (√n clusters ⇒ expected O(n) pair volume at
    * uniform occupancy; a hot cluster is the same skew problem — and same
    * salting/`filesPerList`-style remedies — as everywhere else in the
    * repo). The centroid assignment is a scan-stage native argmax
    * ([[centroidAssignExpr]]), the dropped-id set is aggregate-fed so its
    * join back carries an explicit SHUFFLE_HASH hint (the optimizer's
    * fake-broadcastability trap, documented in ExtensionsSpec).
    *
    * Output: one row per input vector — (idCol, cid, is_kept), is_kept
    * false iff a smaller-id same-cluster neighbor scores
    * `round(cos, 9) >= minCos`.
    */
  def semanticDedup(
      emb: DataFrame,
      minCos: Double,
      nlist: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = collectCentroids(emb, nlist, idCol, vecCol)
    val assigned = emb.select(
        col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        l2Norm(col(vecCol)).as("nrm"))
      .withColumn("cid", centroidAssignExpr(cents))
    val b = assigned.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("cid"))
    val dropped = assigned.join(b, Seq("cid"))
      .filter(col("id_b") < col("id"))
      .filter(round(cosine(col("v"), col("vb"), col("nrm"), col("nb")), 9) >= lit(minCos))
      .select(col("id")).distinct()
    assigned
      .join(dropped.withColumn("__dup", lit(1L)).hint("SHUFFLE_HASH"), Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"), col("__dup").isNull.as("is_kept"))
  }

  /** Per-vector symmetric int8 scalar quantization: `scale = max|v| / 127`,
    * `q[i] = clamp(floor(v[i]/scale + 0.5), -127, 127)` — 4x less memory
    * and scan bandwidth than float32, the standard first rung of the
    * vector-search memory ladder (before PQ). `floor(x + 0.5)` rather than
    * `round` because the two engines disagree on banker's-vs-half-up
    * rounding; this form is identical everywhere. A zero vector gets
    * scale 1 (avoids 0/0; its quantized form is all zeros).
    * Output: (id, scale DOUBLE, qvec ARRAY<TINYINT>).
    */
  def quantize(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = graft.functions.expressions.QuantizeExpression.quantizeNative(col(vecCol))
    emb.select(col(idCol).as("id"), q.as("__q"))
      .select(col("id"),
        col("__q").getField("scale").as("scale"),
        col("__q").getField("qvec").as("qvec"))
  }

  /** Built-in-function twin of the native `graft_quantize` — same numerics,
    * kept as a bit-equality cross-check (VectorExprSpec). The scale is
    * projected to a REAL column before the element lambda references it:
    * HOFs are CodegenFallback with no CSE, so a lambda referencing the
    * scale EXPRESSION re-evaluates the array_max walk per element — O(d^2)
    * per row.
    */
  private[graft] def quantizeHof(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val maxabs = array_max(transform(v, x => abs(x.cast("double"))))
    val scale = when(maxabs === lit(0.0), lit(1.0)).otherwise(maxabs / lit(127.0))
    emb.select(col(idCol).as("id"), v.as("__v"), scale.as("scale"))
      .select(
        col("id"),
        col("scale"),
        transform(col("__v"), x =>
          greatest(lit(-127L), least(lit(127L),
            floor(x.cast("double") / col("scale") + lit(0.5)))).cast("byte")).as("qvec"))
  }

  /** Quantized-first top-k: rank ALL corpus vectors by int8-dot cosine
    * (`qdot / (|qa| |qb|)` — the per-vector scales cancel in the cosine),
    * keep `candFactor * k` candidates per query, then re-score ONLY the
    * candidates against the full-precision vectors. At scale the hot scan
    * touches the 4x-smaller quantized table; float vectors are read for
    * `candFactor * k` rows per query. All candidate arithmetic is
    * integer-valued (products and sums < 2^53 stay exact in doubles), so
    * the DuckDB oracle replays the whole pipeline including the candidate
    * cut. Output: (query_id, rank, neighbor_id, cos_sim) — cos_sim is the
    * EXACT cosine, same contract as [[bruteForceTopK]].
    */
  def quantizedTopK(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      candFactor: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val corpus = quantize(emb, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("qvec").as("qv"),
        l2Norm(col("qvec")).as("qnv"))
    val qs = quantize(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("qvec").as("qq"),
        l2Norm(col("qvec")).as("qnq"))
    val qscored = corpus.join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        // try_divide: a zero (or fully-underflowed) vector has qnorm 0 —
        // NULL qcos ranks last instead of an ANSI DIVIDE_BY_ZERO abort
        (try_divide(dot(col("qq"), col("qv")), col("qnq") * col("qnv"))).as("qcos"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val candidates = qscored.withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= k * candFactor)
      .select(col("query_id"), col("neighbor_id"))
    // exact rerank of the candidates only
    val full = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nv"))
    val fq = queries.select(col(idCol).as("query_id"), col(vecCol).as("q"),
      l2Norm(col(vecCol)).as("nq"))
    val rescored = broadcast(candidates)
      .join(full, Seq("neighbor_id"))
      .join(broadcast(fq), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q"), col("v"), col("nq"), col("nv")), 9).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Johnson-Lindenstrauss random projection to `outDim` coordinates:
    * `proj_j = dot(vec, plane_{planeBase + j})` over the SAME deterministic
    * integer-LCG hyperplanes the LSH family hashes with — no stored model,
    * no RNG, engine-independent, so the DuckDB oracle replays every
    * coordinate from the dots formula. Output: (`idCol`, proj array<double>).
    *
    * The scale story: a 4x smaller payload (64 -> 16 doubles) to
    * shuffle, broadcast, or persist wherever a coarse geometry suffices.
    * The projection is scan-local (one fold per output coordinate, no
    * shuffle at all). Scope it honestly: JL preserves distances to
    * `1 +- eps` with `eps ~ 1/sqrt(outDim)` (~0.25 at 16), so it is a
    * payload-compression / coarse-bucketing transform, NOT a top-k
    * ranking rung — on an isotropic corpus (this repo's benchmark
    * embeddings: top-5 cosine margins ~0.07) a 16-dim sketch measured
    * recall@5 of only ~0.07-0.48 even with 20x exact re-ranking, so the
    * ANN paths here remain [[ivfTopK]] / [[lshTopK]], whose candidate
    * generation + exact re-score does not depend on sketch margins.
    *
    * `planeBase + outDim` must stay under ~3400: the LCG's
    * `p*1000003*2654435761` multiply crosses 2^63 past that, where Spark
    * wraps silently but an oracle engine errors — the bound keeps every
    * replayer in exact-integer agreement.
    */
  def jlProject(
      emb: DataFrame,
      outDim: Int = 16,
      planeBase: Int = 1024,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(outDim >= 1, "outDim must be >= 1")
    require(planeBase >= 0 && planeBase + outDim <= 3400,
      "plane index past ~3400 overflows the 63-bit LCG multiply")
    emb.select(col(idCol).as("vec_id"),
      array((0 until outDim).map(j => planeDot(col(vecCol), planeBase + j)): _*).as("proj"))
  }

}
