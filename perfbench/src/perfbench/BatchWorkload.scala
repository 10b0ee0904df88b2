package perfbench

import graft.core.{Brick, RenkoEngine}
import graft.operators.{Renko, RenkoModes}
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable.ArrayBuffer

/** Batch renko over tick files.
  *
  * `renko_batch_1series`: one series of small random-walk moves (about one
  * brick per few hundred ticks). A pass is `Renko.fromTicks` and the wicks
  * view, collected.
  *
  * `renko_batch_multiseries`: the ticks spread over 256 series that
  * interleave in time, with moves large against the brick (multi-brick gaps,
  * about one brick per few ticks). A pass is `Renko.fromTicks(symbolCol)`,
  * cached, and all seven mode views collected.
  */
final class BatchWorkload(ctx: Ctx, multi: Boolean, ticksOverride: Long = 0L) extends Workload {
  import BatchWorkload._
  private val spark = ctx.spark
  val spec: TickSpec =
    if (multi) TickSpec(ctx.seed, if (ticksOverride > 0) ticksOverride else MultiTicks, 256, 20)
    else TickSpec(ctx.seed, if (ticksOverride > 0) ticksOverride else SingleTicks, 1, 2)
  private val dir = s"${ctx.work}/ticks"
  private val modes = if (multi) RenkoModes.all else Seq("wicks")
  private var arrays: Array[(Array[Long], Array[Double])] = _
  var expected: Checks.Series = _

  override def inputRows: Long = spec.n

  override def setup(): Unit = {
    spec.write(spark, dir, 2 * ctx.cores)
    arrays = spec.arrays()
    expected = arrays.zipWithIndex.map { case ((ts, px), s) =>
      (if (multi) spec.symbol(s) else "") -> RefFold.batch(ts, px, 0, ts.length, BrickSize)
    }.toMap
  }

  private def ticks(): DataFrame = spark.read.parquet(dir)

  def wide(): DataFrame = Renko.fromTicks(ticks(), BrickSize,
    symbolCol = if (multi) Some("symbol") else None,
    datetimeCol = "t", closeCol = "price", tsUnit = "us")

  override def pass(id: Int): PassOut = {
    val ops = new ArrayBuffer[Double]()
    def op[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      val r = Trace.span(name)(body)
      ops += (System.nanoTime() - t) / 1e9
      r
    }
    val views: Seq[(String, Seq[String], Array[Row])] =
      if (!multi) {
        val (cols, rows) = op("renko.wicks.collect") {
          val v = RenkoModes.project(wide(), "wicks")
          (v.columns.toSeq, v.collect())
        }
        Seq(("wicks", cols, rows))
      } else {
        val w = wide().cache()
        try modes.map { m =>
          val (cols, rows) = op("renko.view.collect") {
            val v = RenkoModes.project(w, m)
            (v.columns.toSeq, v.collect())
          }
          (m, cols, rows)
        } finally w.unpersist(blocking = true)
      }
    // the warm-up pass also collects the wide table, to check all 19 columns
    val wideRows = if (id < 0 && !multi) { val w = wide(); Some((w.columns.toSeq, w.collect())) } else None
    PassOut(ops.toSeq, ops.size, views.map(_._3.length.toLong).sum, (views, wideRows))
  }

  override def check(out: PassOut): Seq[String] = {
    val (views, wideRows) = out.payload.asInstanceOf[(Seq[(String, Seq[String], Array[Row])], Option[(Seq[String], Array[Row])])]
    checkTables(views.map { case (m, cols, rows) => m -> Checks.bricks(cols, rows) },
      wideRows.map { case (cols, rows) => Checks.bricks(cols, rows) })
  }

  /** Checks 1 and 2 on collected mode views (the wicks view first) and,
    * when given, the wide table. */
  def checkTables(views: Seq[(String, Checks.Series)], wideTable: Option[Checks.Series]): Seq[String] = {
    val wicks = views.head._2
    val f = new ArrayBuffer[String]()
    for ((m, v) <- views) {
      f ++= Checks.equalsFold(s"$m view", expected.map { case (k, xs) => k -> xs.map(Checks.asView(_, m)) }, v, Checks.ViewCols)
      f ++= Checks.viewMatchesWide(m, wicks, v)
    }
    f ++= Checks.brickSteps("wicks view", wicks, BrickSize)
    f ++= Checks.timeOrder("wicks view", wicks)
    f ++= Checks.wicksEnclose(wicks)
    wideTable.foreach(w => f ++= Checks.equalsFold("wide table", expected, w, Checks.WideCols))
    f.toSeq
  }

  override def drainSource(): Unit = ticks().write.format("noop").mode("overwrite").save()

  /** Layer by layer, each median of three: the bare fold on one thread, the
    * wide table without projection, the views over a cached wide table. */
  override def layerLedger(): Map[String, Double] = {
    def med3(name: String)(body: => Unit): Double =
      Stats.median((1 to 3).map { _ =>
        val t = System.nanoTime(); Trace.span(name)(body); (System.nanoTime() - t) / 1e9
      })
    val fold = med3("core.fold") {
      val out = new ArrayBuffer[Brick](16)
      arrays.foreach { case (ts, px) =>
        val eng = new RenkoEngine(BrickSize)
        eng.initAnchor(px(0))
        var i = 1
        while (i < ts.length) { out.clear(); eng.step(ts(i), px(i), i.toLong, out); i += 1 }
      }
    }
    val wideS = med3("renko.wide")(wide().write.format("noop").mode("overwrite").save())
    val w = wide().cache()
    w.write.format("noop").mode("overwrite").save()
    val projS = med3("modes.project")(modes.foreach(m =>
      RenkoModes.project(w, m).write.format("noop").mode("overwrite").save()))
    w.unpersist(blocking = true)
    val bricks = expected.values.map(_.size).sum
    Map("core.fold_s" -> fold, "core.fold_ticks_per_s" -> spec.n / fold,
      "renko.wide_s" -> wideS, "modes.project_s" -> projS,
      "input.ticks" -> spec.n.toDouble, "input.series" -> spec.series.toDouble,
      "output.bricks" -> bricks.toDouble, "output.bricks_per_tick" -> bricks.toDouble / spec.n)
  }
}

object BatchWorkload {
  val BrickSize = 0.0003
  val SingleTicks = 2000000L
  val MultiTicks = 600000L
}
