package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch-based approximate statistics for corpus profiling.
  *
  * KMV (k-minimum-values) distinct counting [Bar-Yossef et al. 2002]: keep
  * the k smallest distinct hash values per group; if fewer than k distinct
  * hashes exist the count is exact, otherwise `(k-1) * H / kth_min`
  * estimates the distinct count (hashes uniform on [0, H)). Chosen over HLL
  * here because every step — polynomial hash, distinct, rank, one division —
  * is exactly replicable in ANSI SQL, so the sketch itself is oracle-
  * verifiable bit-for-bit, not just statistically.
  *
  * Scale shape: the shuffle is O(distinct tokens) narrow (group, hash) rows
  * — the same cost as any exact distinct count's first stage — then a
  * per-group sort to rank. (A production variant replaces the rank window
  * with a bounded k-min-heap aggregate; the relational form is kept here for
  * oracle parity and is already sub-quadratic.)
  */
object Sketches {

  /** Approximate distinct-token count per group. Output: (group, n_kept,
    * est_distinct) — n_kept = min(k, true distinct), est_distinct rounded
    * to 6 dp (exact when the group has < k distinct tokens).
    */
  def kmvDistinctTokens(
      docs: DataFrame,
      k: Int = 256,
      groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(k >= 2, "k must be >= 2")
    // the raw polynomial fold of SHORT tokens is wildly non-uniform (a
    // 3-char token hashes below 31^3), which destroys the kth-min statistic
    // — the same LCG scramble the deterministic sampler uses restores
    // uniformity on [0, 2^31-1) while staying exactly SQL-replicable
    val hashes = docs
      .select(col(groupCol), explode(tokens(col(textCol))).as("tok"))
      .select(col(groupCol),
        pmod(polyHash(col("tok")) * lit(2654435761L) + lit(12345L), lit(2147483647L)).as("h"))
      .distinct()
    val w = Window.partitionBy(col(groupCol)).orderBy(col("h").asc)
    hashes.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"))
      .select(col(groupCol), col("n_kept"),
        round(when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble * 2147483647.0) / col("kth")), 6)
          .as("est_distinct"))
  }

  /** Per-depth LCG scramble multipliers for the count-min rows — odd
    * constants from the usual public mixers (Knuth's 2654435761, the
    * FNV/blake words), each applied to the SAME token polyhash so the d
    * bucket choices are pairwise-independent-ish yet exactly SQL-replicable.
    */
  private val CmsMults = Seq(2654435761L, 1779033703L, 3144134277L, 1013904223L)

  /** Count-min-sketch heavy hitters [Cormode & Muthukrishnan 2005]: the
    * sketch-based scale path for "top terms" — at corpus scale the exact
    * per-term count table is itself a billion-row shuffle, while the CMS
    * bucket table is `depth × width` longs TOTAL, buildable in one pass
    * with map-side partial aggregation and small enough to broadcast.
    *
    * Output: (term, rank, est_count, exact_count) — top `k` candidates by
    * (estimate DESC, term ASC) with the true count alongside, so the
    * sketch's one-sided error (`est >= exact` always; equality when none of
    * the term's `depth` buckets collide) is exhibited and oracle-checked,
    * not assumed. Every step — polynomial hash, per-depth LCG scramble,
    * modulo bucketing, integer bucket sums, min-over-depths — is exactly
    * replicable in ANSI SQL.
    *
    * Scale notes: the exact_count column here doubles as the verification
    * arm and IS the expensive side; a production deployment keeps only the
    * sketch + a bounded candidate set (e.g. a per-partition top-m union, or
    * the stream's admitted vocabulary) and drops the exact join. `depth`
    * is bounded by [[CmsMults]] (4): error probability halves per row while
    * the sketch stays trivially broadcastable.
    */
  def cmsTopTerms(
      docs: DataFrame,
      k: Int = 20,
      depth: Int = 3,
      width: Int = 32,
      textCol: String = "text"): DataFrame = {
    require(depth >= 1 && depth <= CmsMults.size, s"depth must be in [1, ${CmsMults.size}]")
    require(width >= 2, "width must be >= 2")
    val tok = docs.select(explode(tokens(col(textCol))).as("term"))
      .withColumn("h", polyHash(col("term")))
    def bucket(d: Int) =
      pmod(pmod(col("h") * lit(CmsMults(d)) + lit(12345L), lit(2147483647L)),
        lit(width.toLong))
    // one pass over the token stream: each occurrence lands in one bucket
    // per depth row; groupBy(d, bucket) partial-aggregates map-side, so the
    // shuffle carries at most depth*width rows per input partition
    val rows = (0 until depth).map(d =>
      tok.select(lit(d).as("d"), bucket(d).as("bucket")))
      .reduce(_ unionAll _)
    val sketch = rows.groupBy(col("d"), col("bucket")).agg(count(lit(1)).as("cnt"))
    // candidates: the distinct vocabulary with exact counts (the verify
    // arm). Estimate = min over the term's depth buckets.
    val exact = tok.groupBy(col("term"), col("h")).agg(count(lit(1)).as("exact_count"))
    val probes = (0 until depth).map(d =>
      exact.select(col("term"), col("exact_count"), lit(d).as("d"), bucket(d).as("bucket")))
      .reduce(_ unionAll _)
    val est = probes.join(broadcast(sketch), Seq("d", "bucket"))
      .groupBy(col("term"), col("exact_count"))
      .agg(min(col("cnt")).as("est_count"))
    graft.util.SmallPrefix.rankTopK(est, Seq(col("est_count").desc, col("term").asc), k)
      .select(col("term"), col("rank"), col("est_count"), col("exact_count"))
  }
}
