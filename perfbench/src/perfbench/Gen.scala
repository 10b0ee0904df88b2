package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Counter-based random numbers: the value at (seed, stream, i) is a pure
  * function, so any task can produce any slice of an input. */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def at(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 0x100000001B3L ^ stream) + i)
  /** Uniform integer in [-k, k]. */
  def sym(h: Long, k: Int): Int = java.lang.Math.floorMod(h, 2L * k + 1).toInt - k
  /** Uniform double in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  def gauss(h1: Long, h2: Long): Double =
    math.sqrt(-2.0 * math.log(1.0 - unit(h1))) * math.cos(2 * math.Pi * unit(h2))
}

/** A seeded tick table: `n` ticks over `series` series that interleave in
  * time. Global tick j belongs to series j % series and happens at
  * T0 + 1000 j + jitter µs (jitter < 1000), so timestamps strictly increase
  * within each series and overall. Prices are a random walk on a 1e-5 grid
  * with uniform steps of at most `step` grid units.
  */
final case class TickSpec(seed: Long, n: Long, series: Int, step: Int) {
  val T0: Long = 1700000000000000L
  def symbol(s: Int): String = f"S$s%03d"
  def time(j: Long): Long = T0 + 1000L * j + java.lang.Math.floorMod(Rng.at(seed, -1L, j), 1000L)
  private def base(s: Int): Long = 100000L + 997L * s
  private def inc(s: Int, k: Long): Long = if (k == 0) 0L else Rng.sym(Rng.at(seed, s.toLong, k), step).toLong
  def price(units: Long): Double = units / 100000.0

  /** Ticks of global positions [lo, hi) in time order: (series, t, price). */
  def slice(lo: Long, hi: Long): Iterator[(Int, Long, Double)] = {
    // walk every series up to its last tick before `lo`
    val u = Array.tabulate(series)(base)
    var s = 0
    while (s < series) {
      var k = 0L
      val kStart = if (lo > s) (lo - s + series - 1) / series else 0L // ticks of s before lo
      while (k < kStart) { u(s) += inc(s, k); k += 1 }
      s += 1
    }
    Iterator.range(0L, hi - lo).map { d =>
      val j = lo + d
      val s = (j % series).toInt
      u(s) += inc(s, j / series)
      (s, time(j), price(u(s)))
    }
  }

  /** Per-series (timestamps, prices), in time order, in this process. */
  def arrays(): Array[(Array[Long], Array[Double])] = {
    val sizes = Array.tabulate(series)(s => (n - s + series - 1) / series)
    val ts = sizes.map(k => new Array[Long](k.toInt))
    val px = sizes.map(k => new Array[Double](k.toInt))
    var j = 0L
    slice(0L, n).foreach { case (s, t, p) =>
      val k = (j / series).toInt
      ts(s)(k) = t
      px(s)(k) = p
      j += 1
    }
    ts.zip(px)
  }

  /** Write the ticks as `files` parquet files (time-ordered chunks) with
    * the recording schema (symbol STRING, t BIGINT epoch µs, price DOUBLE). */
  def write(spark: SparkSession, dir: String, files: Int): Unit = {
    val self = this
    val rows = spark.sparkContext.parallelize(0 until files, files).flatMap { p =>
      val lo = n * p / files
      val hi = n * (p + 1) / files
      self.slice(lo, hi).map { case (s, t, px) => Row(self.symbol(s), t, px) }
    }
    spark.createDataFrame(rows, TickSpec.Schema).write.mode("overwrite").parquet(dir)
  }
}

object TickSpec {
  val Schema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("price", DoubleType, nullable = false)))
}

/** A seeded document corpus and embedding set for the index workload.
  * Documents are 20-60 words drawn log-uniformly from a `vocab`-word
  * vocabulary; vectors are `dim`-dimensional float points around 16
  * gaussian centres. Ids are split into a bootstrap batch, `epochs` append
  * batches and one delete batch drawn from the bootstrap and first append.
  */
final case class CorpusSpec(seed: Long, baseDocs: Int, epochDocs: Int, epochs: Int,
    deleteDocs: Int, vocab: Int, baseVecs: Int, epochVecs: Int, deleteVecs: Int, dim: Int) {

  private def word(h: Long): String = s"w${math.exp(Rng.unit(h) * math.log(vocab + 1.0)).toInt - 1}"

  def docText(id: Long): String = {
    val len = 20 + java.lang.Math.floorMod(Rng.at(seed, 101L, id), 41L).toInt
    (0 until len).map(i => word(Rng.at(seed, 102L + i, id))).mkString(" ")
  }

  /** Doc ids of batch b: 0 = bootstrap, 1..epochs = appends. Ids start at 1. */
  def docIds(b: Int): Seq[Long] =
    if (b == 0) (1L to baseDocs.toLong)
    else {
      val lo = baseDocs.toLong + (b - 1).toLong * epochDocs + 1
      lo until lo + epochDocs
    }
  def vecIds(b: Int): Seq[Long] =
    if (b == 0) (1L to baseVecs.toLong)
    else {
      val lo = baseVecs.toLong + (b - 1).toLong * epochVecs + 1
      lo until lo + epochVecs
    }

  /** Deleted ids: a seeded sample of the bootstrap and first append batch. */
  private def sample(all: Seq[Long], k: Int, stream: Long): Seq[Long] =
    all.sortBy(id => Rng.at(seed, stream, id)).take(k).sorted
  lazy val deletedDocIds: Seq[Long] = sample((0 to 1).flatMap(docIds), deleteDocs, 201L)
  lazy val deletedVecIds: Seq[Long] = sample((0 to 1).flatMap(vecIds), deleteVecs, 202L)

  private lazy val centres: Array[Array[Double]] =
    Array.tabulate(16, dim)((c, d) => 3.0 * Rng.gauss(Rng.at(seed, 301L, c * 1000L + d), Rng.at(seed, 302L, c * 1000L + d)))

  def vector(id: Long): Array[Float] = {
    val c = centres(java.lang.Math.floorMod(Rng.at(seed, 303L, id), 16L).toInt)
    Array.tabulate(dim)(d => (c(d) + Rng.gauss(Rng.at(seed, 304L + d, id), Rng.at(seed, 404L + d, id))).toFloat)
  }

  /** Query term lists: 2-3 distinct words each. */
  def queryTerms(q: Int): Seq[String] = {
    val n = 2 + java.lang.Math.floorMod(Rng.at(seed, 501L, q), 2L).toInt
    Iterator.from(0).map(i => word(Rng.at(seed, 502L + q, i))).distinct.take(n).toSeq
  }
  /** Query vectors carry negative ids, so no query is also a corpus member. */
  def queryVectors(n: Int): Seq[(Long, Array[Float])] =
    (1 to n).map(i => (-i.toLong, vector(1000000000L + i)))

  /** Documents to `dir/docs`, vectors to `dir/vecs`, one directory
    * `batch=<b>` per batch: 0 (bootstrap), 1..epochs, `deleted`. */
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val batches = (0 to epochs).map(_.toString) :+ "deleted"
    def docsOf(b: String) = if (b == "deleted") deletedDocIds else docIds(b.toInt)
    def vecsOf(b: String) = if (b == "deleted") deletedVecIds else vecIds(b.toInt)
    batches.flatMap(b => docsOf(b).map(id => (id, docText(id), b))).toDF("doc_id", "text", "batch")
      .repartition($"batch").write.mode("overwrite").partitionBy("batch").parquet(s"$dir/docs")
    batches.flatMap(b => vecsOf(b).map(id => (id, vector(id), b))).toDF("vec_id", "embedding", "batch")
      .repartition($"batch").write.mode("overwrite").partitionBy("batch").parquet(s"$dir/vecs")
  }
}
