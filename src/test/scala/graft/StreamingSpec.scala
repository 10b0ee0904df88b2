package graft

import graft.operators.{Renko, RenkoModes, ToRws}
import graft.streaming.{PriceEvent, RenkoWS, WsState}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming operator validation: bit-exact vs goldens produced by running
  * the reference RenkoWS event-by-event (tools/gen_stream_goldens.py), plus
  * the reference's own batch≡stream and checkpoint/resume contracts.
  */
class StreamingSpec extends SparkTestBase {

  private val golden = "src/test/resources/golden"

  private val wsCols = Seq("timestamp", "open", "high", "low", "close",
    "volume", "direction", "is_reversal", "normal_high", "normal_low",
    "nongap_open", "reverse_nongap_open", "reverse_fake_nongap_open",
    "reverse_high", "reverse_low", "fake_high", "fake_low")

  private def us30Events = {
    import spark.implicits._
    spark.read.parquet(ReferenceData.path("US30_T1_cT.parquet"))
      .select(lit("US30").as("symbol"), unix_micros(col("datetime").cast("timestamp")).as("timestamp"),
        col("bid").as("price"))
      .as[PriceEvent]
  }

  private def normalizeWs(df: DataFrame): Array[Row] =
    df.select(wsCols.map(c => col(c).cast(if (Set("volume", "direction", "is_reversal")(c)) "long" else "double")): _*)
      .collect()

  private def assertRowsEqual(got: Array[Row], want: Array[Row], what: String): Unit = {
    assert(got.length == want.length, s"$what: got ${got.length} rows, want ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"$what row $i:\n got $g\nwant $w")
    }
  }

  private lazy val replayed = RenkoWS.replay(us30Events, 5).cache()

  test("replay US30: full stream table (incl. initial synthetic brick) bit-exact") {
    val got = normalizeWs(replayed.toDF())
    val want = normalizeWs(spark.read.parquet(s"$golden/us30_ws_full.parquet"))
    assertRowsEqual(got, want, "ws_full")
    // initial row: all prices at the anchor, volume=1, direction=1, is_reversal=1
    val first = replayed.orderBy(col("timestamp")).head()
    assert(first.open == first.close && first.high == first.low && first.volume == 1L
      && first.direction == 1 && first.is_reversal == 1)
  }

  test("structured streaming (MemoryStream, 4 micro-batches) == replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = us30Events.collect()
    val stream = MemoryStream[PriceEvent]
    val q = RenkoWS.bricks(stream.toDS(), 5).writeStream
      .format("memory").queryName("ws_out").outputMode("append").start()
    try {
      val chunks = events.grouped(events.length / 4 + 1).toSeq
      chunks.foreach { ch => stream.addData(ch.toIndexedSeq); q.processAllAvailable() }
    } finally q.stop()
    val got = normalizeWs(spark.table("ws_out"))
    val want = normalizeWs(replayed.toDF())
    assertRowsEqual(got, want, "stream-vs-replay")
  }

  test("reference batch≡stream contract: stream[2:] == batch for all 7 modes") {
    // test/test_ws.py:32-63 — drop initial brick + first bar from the stream
    // table; batch table already dropped its first label row
    val batchWide = Renko.fromTicks(
      spark.read.parquet(ReferenceData.path("US30_T1_cT.parquet"))
        .withColumnRenamed("bid", "close"), 5).cache()
    val streamTail = replayed.toDF().orderBy(col("timestamp")).offset(2)
    for (mode <- RenkoModes.all) {
      val b = RenkoModes.project(batchWide, mode)
        .select(col("open"), col("high"), col("low"), col("close"),
          col("volume").cast("long"), col("direction").cast("long"),
          col("is_reversal").cast("long"), unix_micros(col("datetime").cast("timestamp")).as("t"))
        .collect()
      val s = RenkoModes.project(streamTail, mode)
        .select(col("open"), col("high"), col("low"), col("close"),
          col("volume").cast("long"), col("direction").cast("long"),
          col("is_reversal").cast("long"), col("timestamp").as("t"))
        .collect()
      assertRowsEqual(s, b, s"mode $mode")
    }
  }

  test("checkpoint/resume: to_rws -> stateFromCheckpoint -> replay matches reference splice") {
    val ticks = spark.read.parquet(ReferenceData.path("US30_T1_cT.parquet"))
      .withColumnRenamed("bid", "close")
    val split = to_timestamp(lit("2023-06-28 13:50:00"))
    val head = ticks.filter(col("datetime") <= split)
    val tail = ticks.filter(col("datetime") > split)

    val headWide = Renko.fromTicks(head, 5, symbolCol = None)
    val rws = ToRws.toRws(headWide, 5)
    assert(rws.count() == 184) // matches reference to_rws row count

    val init = RenkoWS.stateFromCheckpoint(rws).collect().toMap
    assert(init.contains(""))
    import spark.implicits._
    val tailEvents = tail
      .select(lit("").as("symbol"), unix_micros(col("datetime").cast("timestamp")).as("timestamp"),
        col("close").as("price"))
      .as[PriceEvent]
    val appended = RenkoWS.replay(tailEvents, 5, initialState = init)
    val got = normalizeWs(appended.toDF())
    val want = normalizeWs(spark.read.parquet(s"$golden/us30_ws_resume_appended.parquet"))
    assertRowsEqual(got, want, "resume-appended")
  }

  test("renko_animate: completed + forming brick bit-exact for all 7 modes") {
    val events = us30Events.collect().toIndexedSeq
    val (state, _) = RenkoWS.processSorted("US30", events, None, 5)
    for (mode <- RenkoModes.all) {
      val name = mode.replace("-", "_")
      val completed = RenkoModes.project(replayed.toDF(), mode)
      val frame = RenkoWS.animate(completed, state, mode, maxLen = 0)
      val got = frame.drop("symbol")
        .select(col("timestamp").cast("long"), col("open"), col("high"), col("low"),
          col("close"), col("volume").cast("long"), col("direction").cast("long"),
          col("is_reversal").cast("long")).collect()
      val want = spark.read.parquet(s"$golden/us30_animate_$name.parquet")
        .select(col("timestamp").cast("long"), col("open"), col("high"), col("low"),
          col("close"), col("volume").cast("long"), col("direction").cast("long"),
          col("is_reversal").cast("long")).collect()
      assertRowsEqual(got, want, s"animate $mode")
    }
  }

  test("bricksWithForming: animate reconstructed entirely from the stream sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = us30Events.collect()
    val stream = MemoryStream[PriceEvent]
    val q = RenkoWS.bricksWithForming(stream.toDS(), 5).writeStream
      .format("memory").queryName("ws_forming").outputMode("append").start()
    try {
      val chunks = events.grouped(events.length / 3 + 1).toSeq
      chunks.foreach { ch => stream.addData(ch.toIndexedSeq); q.processAllAvailable() }
    } finally q.stop()
    val sink = spark.table("ws_forming").cache()
    // completed rows equal the replay table exactly
    val completed = normalizeWs(sink.filter(col("is_forming") === 0))
    assertRowsEqual(completed, normalizeWs(replayed.toDF()), "forming-completed")
    // one forming row per micro-batch; animate from the sink matches the
    // reference-golden animate frame for every mode
    assert(sink.filter(col("is_forming") === 1).count() == 3)
    val (state, _) = RenkoWS.processSorted("US30", events.toIndexedSeq, None, 5)
    for (mode <- RenkoModes.all) {
      val fromStream = RenkoWS.animateFromStream(sink, mode, maxLen = 0)
        .select(col("timestamp").cast("long"), col("open"), col("high"), col("low"),
          col("close"), col("volume").cast("long"), col("direction").cast("long"),
          col("is_reversal").cast("long")).collect()
      val name = mode.replace("-", "_")
      val want = spark.read.parquet(s"$golden/us30_animate_$name.parquet")
        .select(col("timestamp").cast("long"), col("open"), col("high"), col("low"),
          col("close"), col("volume").cast("long"), col("direction").cast("long"),
          col("is_reversal").cast("long")).collect()
      assertRowsEqual(fromStream, want, s"animateFromStream $mode")
    }
    sink.unpersist()
  }

  test("animateView: MULTI-KEY in-plan animate == per-key driver-side animate, all 7 modes") {
    import spark.implicits._
    // three keys with shifted prices — distinct anchors, distinct brick
    // trajectories, one distributed plan
    val base = us30Events.collect().take(400)
    val events = (0 until 3).flatMap { k =>
      base.map(e => PriceEvent(s"K$k", e.timestamp, e.price + 7 * k))
    }
    val sink = RenkoWS.replayWithForming(events.toDS(), 5).toDF().cache()
    for (mode <- RenkoModes.all; maxLen <- Seq(0, 60)) {
      // full-column sort on BOTH sides: the forming row can share its
      // timestamp with a completed brick, and the two paths must not rely
      // on each plan breaking that tie the same way
      val tieCols = Seq("timestamp", "open", "high", "low", "close",
        "volume", "direction", "is_reversal").map(col)
      val view = RenkoWS.animateView(sink, mode, maxLen = maxLen, keep = 30)
        .drop("is_forming")
      for (k <- 0 until 3) {
        val got = view.filter(col("symbol") === s"K$k")
          .orderBy(tieCols: _*).collect()
        // the per-key reference path: driver-side state + RenkoWS.animate
        val (state, _) = RenkoWS.processSorted(
          s"K$k", events.filter(_.symbol == s"K$k").toIndexedSeq, None, 5)
        val keyed = sink.filter(col("symbol") === s"K$k" && col("is_forming") === 0)
          .drop("is_forming")
        val want = RenkoWS.animate(RenkoModes.project(keyed, mode), state, mode,
            maxLen = maxLen, keep = 30)
          .orderBy(tieCols: _*).collect()
        assertRowsEqual(got, want, s"animateView $mode maxLen=$maxLen key=K$k")
      }
    }
    sink.unpersist()
  }

  test("animate retention view: maxLen/keep window") {
    val events = us30Events.collect().toIndexedSeq
    val (state, _) = RenkoWS.processSorted("US30", events, None, 5)
    val completed = RenkoModes.project(replayed.toDF(), "wicks")
    val n = completed.count() // 695
    val framed = RenkoWS.animate(completed, state, "wicks", maxLen = 500, keep = 250)
    // oldest (500-250) completed rows omitted, forming row appended
    assert(framed.count() == n - 250 + 1)
  }
}
