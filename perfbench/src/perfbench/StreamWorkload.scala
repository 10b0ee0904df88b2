package perfbench

import graft.core.{Brick, RenkoEngine}
import graft.streaming.{PriceEvent, RenkoWS}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** `renko_stream_restart`: a one-file recording of 32 interleaved series is
  * replayed through `graft-replay` at a fixed rows-per-batch into
  * `RenkoWS.bricks` with a checkpoint and a parquet sink. Each pass stops
  * the query once half the micro-batches have committed and restarts it
  * from its checkpoint until the recording is drained.
  */
final class StreamWorkload(ctx: Ctx, rows: Long = StreamWorkload.Rows) extends Workload {
  import StreamWorkload._
  private val spark = ctx.spark
  val spec: TickSpec = TickSpec(ctx.seed, rows, 32, 10)
  private val RowsPerBatch: Long = rows / Batches
  private val recDir = s"${ctx.work}/recording"
  private var arrays: Array[(Array[Long], Array[Double])] = _
  private var expected: Checks.Series = _
  private var replayed: Checks.Series = _
  private val progress = new ArrayBuffer[StreamingQueryProgress]()
  private val restarts = new ArrayBuffer[Double]()

  override def inputRows: Long = spec.n

  override def setup(): Unit = {
    spec.write(spark, recDir, 1)
    arrays = spec.arrays()
    expected = arrays.zipWithIndex.map { case ((ts, px), s) =>
      spec.symbol(s) -> RefFold.stream(ts, px, 0, ts.length, BrickSize)
    }.toMap
    // RenkoWS.replay over the whole recording, the batch form of the fold
    val ev = spark.read.parquet(recDir)
      .select(col("symbol"), col("t").as("timestamp"), col("price")).as(Encoders.product[PriceEvent])
    val r = RenkoWS.replay(ev, BrickSize).toDF()
    replayed = Checks.bricks(r.columns.toSeq, r.collect())
  }

  private def recordingFile: String =
    new File(recDir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head

  private def events(): Dataset[PriceEvent] = spark.readStream.format("graft-replay")
    .option("path", recordingFile).option("rowsPerBatch", RowsPerBatch.toString).load()
    .select(col("symbol"), col("t").as("timestamp"), col("price")).as(Encoders.product[PriceEvent])

  private def start(dir: String): StreamingQuery =
    RenkoWS.bricks(events(), BrickSize).writeStream
      .format("parquet")
      .option("path", s"$dir/sink")
      .option("checkpointLocation", s"$dir/checkpoint")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .start()

  private def batches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  private def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")

  override def pass(id: Int): PassOut = {
    val dir = s"${ctx.work}/stream/p$id"
    // leg 1: stop once half the micro-batches have committed
    val q1 = Trace.span("stream.leg1")(start(dir))
    Trace.span("stream.leg1.run") {
      while (batches(q1).size < Batches / 2 && q1.isActive) Thread.sleep(2)
    }
    q1.stop()
    q1.exception.foreach(e => throw e)
    val p1 = batches(q1)
    // leg 2: restart from the checkpoint and drain the recording
    val t0 = System.currentTimeMillis()
    val q2 = Trace.span("stream.leg2")(start(dir))
    Trace.span("stream.leg2.run")(q2.processAllAvailable())
    q2.stop()
    val p2 = batches(q2)
    val ps = p1 ++ p2
    ps.foreach(p => Trace.record("stream.microbatch", p.durationMs.get("triggerExecution") / 1000.0))
    if (Trace.on) {
      progress ++= ps
      restarts += (commitMs(p2.head) - t0) / 1000.0
    }
    PassOut(ps.map(_.durationMs.get("triggerExecution") / 1000.0), ps.size, 0L, (dir, ps.size))
  }

  override def check(out: PassOut): Seq[String] = {
    val (dir, committed) = out.payload.asInstanceOf[(String, Int)]
    checkUnion(committed, sinkRows(dir))
  }

  /** Both legs' output: the sink's log lists only committed files. */
  def sinkRows(dir: String): Checks.Series = {
    val sink = spark.read.parquet(s"$dir/sink")
    Checks.bricks(sink.columns.toSeq, sink.collect())
  }

  /** Checks 1-3 on the union of both legs' output. */
  def checkUnion(committed: Int, got: Checks.Series): Seq[String] = {
    val f = new ArrayBuffer[String]()
    if (committed != Batches) f += s"stream: $committed micro-batches committed, expected $Batches"
    f ++= Checks.sameMultiset("stream vs fold (stream rules)", expected, got)
    f ++= Checks.sameMultiset("stream vs RenkoWS.replay", replayed, got)
    f ++= Checks.brickSteps("stream", got, BrickSize)
    f.toSeq
  }

  override def afterPass(out: PassOut): Unit = {
    val dir = out.payload.asInstanceOf[(String, Int)]._1
    org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
  }

  /** The recording through `graft-replay` into a no-op sink: the source and
    * trigger cost with no renko work. */
  override def drainSource(): Unit = {
    val dir = s"${ctx.work}/stream/drain"
    val q = events().toDF().writeStream.format("noop")
      .option("checkpointLocation", s"$dir/checkpoint")
      .trigger(Trigger.ProcessingTime(0L)).start()
    q.processAllAvailable()
    q.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
  }

  override def layerLedger(): Map[String, Double] = {
    def p50(key: String): Double =
      Stats.median(progress.toSeq.map(_.durationMs.get(key).toDouble))
    val trig = progress.toSeq.map(_.durationMs.get("triggerExecution").toDouble / 1000.0)
    // growth within a pass: last quarter of its micro-batches over the first
    val q = Batches / 4
    val growth = progress.grouped(Batches).toSeq.filter(_.size == Batches).map { ps =>
      val t = ps.map(_.durationMs.get("triggerExecution").toDouble)
      Stats.median(t.takeRight(q).toSeq) / Stats.median(t.take(q).toSeq)
    }
    val last = progress.last.stateOperators.head
    val t = System.nanoTime()
    val readS = { spark.read.parquet(recDir).write.format("noop").mode("overwrite").save(); (System.nanoTime() - t) / 1e9 }
    val f0 = System.nanoTime()
    val out = new ArrayBuffer[Brick](16)
    arrays.foreach { case (ts, px) =>
      val eng = new RenkoEngine(BrickSize)
      eng.initAt(RefFold.anchor(px(0), BrickSize), 1)
      var i = 1
      while (i < ts.length) { out.clear(); eng.step(ts(i), px(i), 0L, out); i += 1 }
    }
    val foldS = (System.nanoTime() - f0) / 1e9
    Map(
      "microbatch_p50_s" -> Stats.median(trig),
      "restart_s" -> Stats.median(restarts.toSeq),
      "stream.latest_offset_ms_p50" -> p50("latestOffset"),
      "stream.add_batch_ms_p50" -> p50("addBatch"),
      "stream.planning_ms_p50" -> p50("queryPlanning"),
      "stream.wal_commit_ms_p50" -> p50("walCommit"),
      "stream.commit_ms_p50" -> p50("commitOffsets"),
      "stream.batch_growth" -> Stats.median(growth),
      "state.rows" -> last.numRowsTotal.toDouble,
      "state.memory_bytes" -> last.memoryUsedBytes.toDouble,
      "state.commit_ms" -> last.commitTimeMs.toDouble,
      "source.read_s" -> readS,
      "core.fold_s" -> foldS,
      "core.fold_ticks_per_s" -> spec.n / foldS,
      "input.ticks" -> spec.n.toDouble,
      "input.rows_per_batch" -> RowsPerBatch.toDouble,
      "output.bricks" -> expected.values.map(_.size).sum.toDouble)
  }
}

object StreamWorkload {
  val BrickSize = 0.0003
  val Batches = 16
  val Rows = 160000L
}
