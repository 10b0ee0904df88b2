package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text retrieval over the corpus: BM25 top-k scoring of a fixed query
  * — the standard relevance baseline a training-data pipeline uses for
  * targeted corpus queries (quality probes, topic pulls, eval-set mining).
  *
  * Scale design: the corpus is NEVER exploded into a full inverted index for
  * a single query — tokens are filtered to the query's terms at the scan
  * (`filter(w, t -> t IN terms)`), so the exploded row count is the number
  * of query-term OCCURRENCES, not total tokens. The corpus stats (N,
  * avgdl) are literals; document frequencies are a one-row aggregate over
  * the per-document rows, joined back by broadcast. Per-document scores are assembled as one conditional-aggregate
  * column PER TERM and added in fixed query order — floating-point addition
  * order is deterministic, so results are bit-stable across partitionings
  * (and match the oracle's identical CASE-WHEN formulation).
  */
object Search {

  /** BM25 top-k. Output: (doc_id, rank, bm25) with bm25 rounded to 6 dp and
    * rank dense over (bm25 DESC, doc_id ASC), rank <= k. Only documents
    * containing at least one query term are scored.
    */
  def bm25TopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, "queryTerms must be distinct")
    val tok = docs.select(
      col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("dl"),
      filter(tokens(col(textCol)), t => t.isin(queryTerms.map(x => x: Any): _*)).as("qw"))
    // corpus stats, collected: avgdl = sum(dl)/N — an exact integer sum
    // divided once on the driver, the same IEEE division Spark would run
    val st = tok.agg(count(lit(1)), sum(col("dl"))).collect().head
    val nDocs = st.getLong(0)
    val sumDl = if (st.isNullAt(1)) 0L else st.getLong(1)
    val tf = tok.filter(size(col("qw")) >= 1)
      .select(col("doc_id"), col("dl"), explode(col("qw")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    bm25Score(tf, nDocs, sumDl.toDouble / nDocs, queryTerms, k, k1, b)
  }

  /** Scoring tail shared bit-for-bit by the in-plan scan ([[bm25TopK]]) and
    * the persisted-index probe ([[TextIndex.bm25TopK]]): both feed the same
    * (doc_id, dl, term, tf) rows and (n_docs, avgdl) stats, so sharing the
    * tail — per-doc term frequencies, df, idf/tf saturation per term added
    * in fixed query order, TakeOrderedAndProject top-k — is what makes the
    * index bit-transparent rather than approximately equal.
    *
    * One aggregate per document carries each query term's tf (a doc has
    * one row per term, so each sum() holds one element — exact); each
    * term's df is the count of documents with that term, one more
    * aggregate over those rows, cross-joined back as one broadcast row.
    * The corpus stats arrive as literals.
    */
  private[operators] def bm25Score(
      tf: DataFrame,
      nDocs: Long,
      avgdl: Double,
      queryTerms: Seq[String],
      k: Int,
      k1: Double,
      b: Double,
      serveFilter: Option[Column] = None,
      metaCols: Seq[String] = Nil): DataFrame = {
    val terms = queryTerms.indices
    // metaCols are per-DOC metadata (constant across a doc's term rows),
    // so first() inside the same aggregate carries them for free
    def perDoc(rows: DataFrame): DataFrame = {
      val aggs = max(col("dl")).as("dl") +:
        terms.map(i => sum(when(col("term") === queryTerms(i), col("tf"))).as(s"tf_$i")) ++:
        metaCols.map(m => first(col(m)).as(m))
      rows.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    }
    // df is over the UNFILTERED candidates (filtered-search semantics: a
    // serving predicate restricts who can be returned, not the
    // statistics); the predicate filters the scored rows at their scan
    val dfs = perDoc(tf).agg(count(col("tf_0")).as("df_0"),
      terms.tail.map(i => count(col(s"tf_$i")).as(s"df_$i")): _*)
    def tscore(i: Int): Column = {
      val t = col(s"tf_$i")
      val df = col(s"df_$i")
      val idf = log((lit(nDocs) - df + 0.5) / (df + 0.5) + 1.0)
      idf * (t * (k1 + 1.0)) /
        (t + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    }
    // per-term scores added in FIXED query order
    val total = terms.map(i => coalesce(tscore(i), lit(0.0))).reduceLeft(_ + _)
    // every doc here has some query term's row, so a score
    val scored = perDoc(serveFilter.map(tf.filter).getOrElse(tf))
      .crossJoin(broadcast(dfs))
      .select(col("doc_id") +: round(total, 6).as("bm25") +: metaCols.map(col): _*)
    graft.util.SmallPrefix.rankTopK(scored, Seq(col("bm25").desc, col("doc_id").asc), k)
      .select(col("doc_id") +: col("rank") +: col("bm25") +: metaCols.map(col): _*)
  }

  /** Hybrid retrieval: reciprocal-rank fusion [Cormack et al., SIGIR'09] of
    * a lexical BM25 ranking and a semantic cosine ranking over the aligned
    * embedding table (`doc_id == vec_id`). RRF is THE standard production
    * fusion — rank-based, so the two scores never need calibrating against
    * each other, and each arm stays what it already is: BM25's scan-local
    * scoring and the ANN arm's broadcast-query top-k. The fusion itself
    * touches only 2×`poolK` rows — driver-trivial, cluster-trivial.
    *
    * Determinism: rrf = 1/(rrfK+lex_rank) + 1/(rrfK+sem_rank) over integer
    * ranks, added in fixed arm order — bit-identical across engines. A
    * doc missing from one arm contributes 0.0 from that arm (standard RRF
    * over unioned pools). Ties (e.g. two docs with mirrored rank pairs —
    * RRF is symmetric) break by doc_id, like every ranking here.
    *
    * Output: (doc_id, rank, rrf rounded 6 dp, lex_rank, sem_rank) with
    * -1 sentinels where the doc is outside that arm's pool, rank <= k.
    */
  def hybridRrfTopK(
      docs: DataFrame,
      emb: DataFrame,
      queryTerms: Seq[String],
      queryVecId: Long,
      k: Int = 20,
      poolK: Int = 50,
      rrfK: Int = 60,
      idCol: String = "doc_id",
      textCol: String = "text",
      vecIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val lex = bm25TopK(docs, queryTerms, poolK, idCol = idCol, textCol = textCol)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val sem = Similarity.bruteForceTopK(
        emb, emb.filter(col(vecIdCol) === queryVecId), poolK,
        idCol = vecIdCol, vecCol = vecCol)
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("sem_rank"))
    fuseRrf(lex, sem, k, rrfK)
  }

  /** Index-served hybrid retrieval: the same RRF fusion as
    * [[hybridRrfTopK]], but the semantic arm is answered from the persisted
    * IVF index ([[IvfIndex.probe]] — a partition-pruned scan of the
    * queries' `nprobe` inverted lists) instead of a brute-force pass over
    * the whole embedding table. This is the serving shape at corpus scale:
    * the lexical arm explodes only query-term occurrences, the semantic arm
    * reads only the probed lists, and the fusion still touches 2×`poolK`
    * rows. With `nprobe` = nlist the semantic pool equals the brute-force
    * pool and the fusion is bit-identical to [[hybridRrfTopK]] (pinned in
    * SearchIndexedSpec); at a serving `nprobe` the pool is the IVF
    * approximation, which the oracle replays exactly.
    */
  def hybridRrfTopKIndexed(
      docs: DataFrame,
      queries: DataFrame,
      indexPath: String,
      queryTerms: Seq[String],
      k: Int = 20,
      poolK: Int = 50,
      rrfK: Int = 60,
      nprobe: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lex = bm25TopK(docs, queryTerms, poolK, idCol = idCol, textCol = textCol)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val sem = IvfIndex.probe(docs.sparkSession, indexPath, queries, poolK, nprobe)
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("sem_rank"))
    fuseRrf(lex, sem, k, rrfK)
  }

  /** Fully index-served hybrid retrieval: BOTH arms answered from persisted
    * layouts — the lexical arm from the term-bucket-partitioned inverted
    * index ([[TextIndex.bm25TopK]], bit-transparent vs the in-plan scan)
    * and the semantic arm from the IVF index ([[IvfIndex.probe]]). This is
    * the complete serving stack: no corpus scan at query time at all; the
    * lexical probe reads only the query terms' posting buckets, the
    * semantic probe only the `nprobe` inverted lists, and the fusion still
    * touches 2×`poolK` rows. Because the lexical arm is bit-identical to
    * [[bm25TopK]], the fusion equals [[hybridRrfTopKIndexed]] at the same
    * `nprobe` (pinned in SearchIndexedSpec) and the same oracle replays it.
    */
  def hybridRrfTopKServed(
      spark: org.apache.spark.sql.SparkSession,
      textIndexPath: String,
      ivfIndexPath: String,
      queries: DataFrame,
      queryTerms: Seq[String],
      k: Int = 20,
      poolK: Int = 50,
      rrfK: Int = 60,
      nprobe: Int = 4,
      lexPredicate: Option[Column] = None,
      semPredicate: Option[Column] = None): DataFrame = {
    // filtered hybrid: each arm's predicate applies INSIDE its probe
    // (arm pools stay poolK-deep among matching rows), so the fusion
    // never under-fills the way filtering the fused result would
    val lex = TextIndex.bm25TopK(spark, textIndexPath, queryTerms, poolK,
        predicate = lexPredicate)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val sem = IvfIndex.probe(spark, ivfIndexPath, queries, poolK, nprobe,
        predicate = semPredicate)
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("sem_rank"))
    fuseRrf(lex, sem, k, rrfK)
  }

  /** RRF fusion tail shared by the brute-force and index-served forms:
    * full-outer join of the two ≤poolK-row pools, 1/(rrfK+rank) added in
    * fixed arm order, global top-k ranked over just k rows.
    */
  private def fuseRrf(lex: DataFrame, sem: DataFrame, k: Int, rrfK: Int): DataFrame = {
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("sem_rank")), lit(0.0)))
    // global top-k, ranked over just k rows — same tail as bm25TopK's
    graft.util.SmallPrefix.rankTopK(fused, Seq(col("rrf").desc, col("doc_id").asc), k)
      .select(col("doc_id"), col("rank"),
        round(col("rrf"), 6).as("rrf"),
        coalesce(col("lex_rank"), lit(-1L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(-1L)).as("sem_rank"))
  }
}
