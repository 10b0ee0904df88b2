package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exclusive prefix sums over a BROADCAST-SIZED keyed frame — the
  * hierarchical-rank pattern's base-frame cumulative WITHOUT the
  * empty-partitionSpec window it used to ride. A `Window.orderBy(key)`
  * over even a ≤1024-row frame still plans a single-partition exchange +
  * one-task WindowExec (and Spark logs a scary warning per run); the same
  * exclusive prefix is a broadcast non-equi self-join + re-aggregation —
  * ≤1024² comparisons, fully distributed, warning-free, and exactly equal
  * (integer sums over a strictly-smaller-key set are order-independent).
  *
  * `base` must have one row per key (the caller's groupBy output). Output:
  * one row per input row with each value column replaced by the SUM of
  * that column over all rows whose key is strictly before it (ascending or
  * descending per `desc`), 0 when none — i.e. the
  * `rowsBetween(unboundedPreceding, -1)` frame.
  */
object SmallPrefix {

  def exclusivePrefix(
      base: DataFrame,
      keyCol: String,
      sums: Map[String, String],
      desc: Boolean = false): DataFrame = {
    require(sums.nonEmpty, "need at least one value column")
    val a = base.as("__pa")
    val b = base.as("__pb")
    val cond: Column =
      if (desc) col(s"__pb.$keyCol") > col(s"__pa.$keyCol")
      else col(s"__pb.$keyCol") < col(s"__pa.$keyCol")
    val keep = base.columns.toSeq
    a.join(broadcast(b), cond, "left")
      .groupBy(keep.map(c => col(s"__pa.$c").as(c)): _*)
      .agg(
        sums.head match { case (v, out) => coalesce(sum(col(s"__pb.$v")), lit(0L)).as(out) },
        sums.tail.toSeq.map { case (v, out) =>
          coalesce(sum(col(s"__pb.$v")), lit(0L)).as(out)
        }: _*)
  }

  /** Global top-`k` of `df` by `order` (which must be a strict total
    * order: include an id tiebreaker) with a 1-based `rank` (long):
    * TakeOrderedAndProject — a distributed partial top-k per partition, k
    * rows to one task — leaves the k rows sorted in one partition, number
    * 0, where `monotonically_increasing_id` is each row's place. So the
    * ranking needs no window (an unpartitioned one logs a warning each
    * time it is planned), no exchange and no sort. Row order is rank order.
    */
  def rankTopK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn("rank", monotonically_increasing_id() + 1)
      .orderBy(col("rank"))
}
