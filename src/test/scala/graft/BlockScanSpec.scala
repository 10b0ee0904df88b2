package graft

import graft.operators.{BrickRow, Renko, Tick}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `fromTicks` packs each input partition into sorted per-series blocks and
  * k-way merges them. Whatever the input order and partitioning, it must
  * equal the fold over the input's stable (symbol, t) sort, where input
  * order is partition order, then row order: a tie keeps it.
  */
class BlockScanSpec extends SparkTestBase {

  import spark.implicits._

  private val brick = 1.0

  /** A (sym, datetime, close) frame whose partitions hold exactly `parts`. */
  private def frame(parts: Seq[Seq[(String, Long, Double)]]): DataFrame =
    spark.sparkContext.parallelize(parts.indices, parts.size)
      .mapPartitionsWithIndex((i, _) => parts(i).iterator)
      .toDF("sym", "datetime", "close")

  /** A random walk of `n` ticks, `perTs` ticks per timestamp. */
  private def walk(sym: String, n: Int, seed: Int, perTs: Int = 1): Seq[(String, Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    var p = 100.0
    (0 until n).map { i =>
      p += (rnd.nextDouble() - 0.5) * 1.5
      (sym, (i / perTs).toLong * 1000L, p)
    }
  }

  /** Cut `ticks` into `n` partitions of near-equal size (some may be empty). */
  private def split(ticks: Seq[(String, Long, Double)], n: Int): Seq[Seq[(String, Long, Double)]] = {
    val size = math.max(1, (ticks.size + n - 1) / n)
    val cut = ticks.grouped(size).toSeq
    cut ++ Seq.fill(n - cut.size)(Seq.empty)
  }

  private def bySymbol(rows: Seq[BrickRow]): Map[String, Seq[BrickRow]] = rows.groupBy(_.symbol)

  private def collectBricks(df: DataFrame): Seq[BrickRow] =
    df.withColumn("datetime_us", unix_micros(col("datetime"))).drop("datetime")
      .as[BrickRow].collect().toSeq

  private def assertFold(name: String, parts: Seq[Seq[(String, Long, Double)]], keyed: Boolean): Unit = {
    val df = frame(parts)
    val input = df.collect().map(r => Tick(if (keyed) r.getString(0) else "", r.getLong(1), r.getDouble(2)))
    val want = bySymbol(Renko.scanPartition(input.sortBy(k => (k.symbol, k.t)).iterator, brick, dropFirst = true).toSeq)
    val symbolCol = if (keyed) Some("sym") else None
    val viaFromTicks = collectBricks(Renko.fromTicks(df, brick, symbolCol = symbolCol))
    val ticks = df.select(
      (if (keyed) col("sym") else lit("")).as("symbol"), col("datetime").as("t"), col("close").as("price"))
    val viaSmallBlocks = collectBricks(Renko.blockScan(ticks, brick, dropFirst = true, blockCap = 7))
    assert(want.values.map(_.size).sum > 0, s"$name: no bricks to compare")
    for ((got, how) <- Seq(viaFromTicks -> "fromTicks", viaSmallBlocks -> "blockCap 7")) {
      val g = bySymbol(got)
      assert(g.keySet == want.keySet, s"$name ($how): series differ")
      for ((sym, rows) <- want) assert(g(sym) == rows, s"$name ($how): series '$sym' differs")
    }
  }

  private val cases: Seq[(String, Seq[Seq[(String, Long, Double)]], Boolean)] = {
    val rnd = new scala.util.Random(7)
    val ties = walk("", 600, 3, perTs = 4)
    val keyedTies = walk("a", 300, 11, perTs = 3) ++ walk("b", 300, 12, perTs = 2)
    Seq(
      ("reversed input", split(walk("", 900, 1).reverse, 3), false),
      ("random shuffle over 7 partitions", split(rnd.shuffle(ties), 7), false),
      ("empty partitions", Seq(Seq.empty, walk("", 200, 2).take(120), Seq.empty, Seq.empty,
        walk("", 200, 2).drop(120), Seq.empty), false),
      ("one-tick partitions", walk("", 40, 4).map(Seq(_)) :+ Seq.empty, false),
      ("symbol present in only some partitions",
        split(rnd.shuffle(keyedTies), 3) :+ walk("c", 150, 13) :+ Seq.empty :+ walk("d", 80, 14).reverse, true),
      ("300 series of 1-3 ticks", split(rnd.shuffle((0 until 300).flatMap { s =>
        Seq.tabulate(1 + s % 3)(i => (f"s$s%03d", i.toLong, 100.0 + (if (i == 1) 2.5 else -1.5 * i)))
      }), 5), true),
      ("ties inside a partition", Seq(ties.take(250), ties.drop(250)), false),
      ("ties across partitions, keyed", split(keyedTies, 4), true))
  }

  for (shufflePartitions <- Seq(1, 3, 8); aqe <- Seq(true, false))
    test(s"fromTicks == the stable-sorted fold (shuffle partitions $shufflePartitions, AQE $aqe)") {
      val before = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try cases.foreach { case (name, parts, keyed) => assertFold(name, parts, keyed) }
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  test("sortedByTime: stable natural-run merge") {
    val rnd = new scala.util.Random(5)
    for (n <- Seq(0, 1, 2, 17, 1000); shape <- Seq("sorted", "reversed", "random")) {
      val t = Array.tabulate(n) { i =>
        shape match {
          case "sorted" => i / 3L
          case "reversed" => (n - i) / 3L
          case _ => rnd.nextInt(math.max(1, n / 4)).toLong
        }
      }
      val price = Array.tabulate(n)(_.toDouble) // the input row, to check stability
      // slack past n must be ignored
      val (st, sp) = Renko.sortedByTime(t ++ Array(-1L, -1L), price ++ Array(-1.0, -1.0), n)
      val want = t.zip(price).sortBy(_._1)
      assert(st.toSeq == want.map(_._1).toSeq && sp.toSeq == want.map(_._2).toSeq, s"n=$n $shape")
    }
  }
}
