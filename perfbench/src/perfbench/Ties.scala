package perfbench

import graft.operators.Renko
import org.apache.spark.sql.{Row, SparkSession}

/** Batch renko on a series with tied timestamps, read from several files.
  * The reference folds ticks in input order, so ties keep the order of the
  * files (name order) and of the rows in them. Each of several runs of
  * `Renko.fromTicks` is compared with the benchmark's fold in that order,
  * and with the first run. Reports; it is not one of the timed workloads.
  */
object Ties {
  val Files = 3
  val Ticks = 30000L
  val PerTimestamp = 4
  val Runs = 5

  def run(spark: SparkSession, work: String): Boolean = {
    val dir = s"$work/ties"
    val seed = 11L
    // global tick j at T0 + 1000 * (j / PerTimestamp) µs: every timestamp is
    // shared by PerTimestamp ticks
    val (files, perTs) = (Files, PerTimestamp) // locals: the closure below ships to tasks
    // files of unequal sizes (1/6, 1/2, 1/3 of the ticks), cut inside a tie
    val cut = Array(0L, Ticks / 6 + 1, 2 * Ticks / 3 + 2, Ticks)
    val units = new Array[Long](Ticks.toInt)
    var u = 100000L
    for (j <- 0 until Ticks.toInt) {
      if (j > 0) u += Rng.sym(Rng.at(seed, 0L, j), 60)
      units(j) = u
    }
    val rows = spark.sparkContext.parallelize(0 until files, files).flatMap { f =>
      (cut(f) until cut(f + 1)).map { j =>
        Row("S", 1700000000000000L + 1000L * (j / perTs), units(j.toInt) / 100000.0)
      }
    }
    spark.createDataFrame(rows, TickSpec.Schema).write.mode("overwrite").parquet(dir)
    val ts = (0L until Ticks).map(j => 1700000000000000L + 1000L * (j / PerTimestamp)).toArray
    val px = units.map(_ / 100000.0)
    val expected = Map("" -> RefFold.batch(ts, px, 0, ts.length, BatchWorkload.BrickSize))

    val got = (1 to Runs).map { _ =>
      val w = Renko.fromTicks(spark.read.parquet(dir), BatchWorkload.BrickSize,
        datetimeCol = "t", closeCol = "price", tsUnit = "us")
      Checks.bricks(w.columns.toSeq, w.collect())
    }
    got.zipWithIndex.foreach { case (g, r) =>
      val f = Checks.equalsFold(s"run ${r + 1} vs fold in input order", expected, g, Checks.WideCols)
      System.err.println(if (f.isEmpty) s"ties: run ${r + 1} equals the fold in input order" else s"ties: ${f.head}")
    }
    val distinct = got.map(_.mapValues(Checks.emissionOrder).toMap).distinct.size
    System.err.println(s"ties: $distinct distinct result(s) over $Runs runs " +
      s"(${expected("").size} bricks expected from $Ticks ticks in $Files files, $PerTimestamp ticks per timestamp)")
    true
  }
}
