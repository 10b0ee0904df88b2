package graft.streaming

import graft.core.{Brick, RenkoEngine, RenkoSnapshot}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.collection.mutable.ArrayBuffer

/** One incoming price event: series key + integer timestamp (unit declared by
  * the caller, reference `ts_unit`) + price.
  */
final case class PriceEvent(symbol: String, timestamp: Long, price: Double)

/** Streaming brick row — the reference RenkoWS table (`renkodf.py:489-496`):
  * wide table minus tick indices, integer `timestamp` instead of datetime.
  */
final case class WsBrick(
    symbol: String,
    timestamp: Long,
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Long,
    direction: Int,
    is_reversal: Int,
    normal_high: Double,
    normal_low: Double,
    nongap_open: Double,
    reverse_nongap_open: Double,
    reverse_fake_nongap_open: Double,
    reverse_high: Double,
    reverse_low: Double,
    fake_high: Double,
    fake_low: Double)

/** `WsBrick` plus an `is_forming` flag: rows from `bricksWithForming`.
  * Completed bricks carry `is_forming = 0`; one forming-state row per key
  * per micro-batch carries `is_forming = 1` with (timestamp, close) = last
  * event, (high, low) = running wick accumulators, volume = in-progress
  * count.
  */
final case class FormingWsBrick(
    symbol: String,
    timestamp: Long,
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Long,
    direction: Int,
    is_reversal: Int,
    is_forming: Int,
    normal_high: Double,
    normal_low: Double,
    nongap_open: Double,
    reverse_nongap_open: Double,
    reverse_fake_nongap_open: Double,
    reverse_high: Double,
    reverse_low: Double,
    fake_high: Double,
    fake_low: Double)

/** Per-key streaming state: the renko accumulator plus the last observed
  * event (needed by the forming-brick/animate view).
  */
final case class WsState(
    brickSize: Double,
    lastRenko: Double,
    lastDirection: Int,
    wickMin: Double,
    wickMax: Double,
    volume: Long,
    lastTs: Long,
    lastPrice: Double)

/** Streaming renko: the reference's `RenkoWS` (`renkodf.py:423-858`)
  * re-expressed as Structured Streaming.
  *
  * `bricks` runs on a streaming Dataset via `flatMapGroupsWithState`
  * (Append, no timeout — renko is price-driven, there is no event-time
  * completeness to wait for); `replay` is the batch-identical fold used for
  * backfills and tests. Both wrap the same `RenkoEngine` the batch operator
  * uses, so batch ≡ stream holds by construction.
  *
  * Reference-faithful details: the first event of a fresh key synthesizes an
  * initial brick at the grid anchor with `volume=1, direction=1,
  * is_reversal=1` and all mode columns at the anchor (`renkodf.py:468-499`),
  * and — consequence of that synthetic row — the post-init state starts with
  * direction +1, not 0 (`renkodf.py:508`). Resume from a `to_rws` checkpoint
  * rehydrates wick/volume from the last checkpoint row's close
  * (`renkodf.py:504-508`), reproducing the reference's documented
  * one-row splice divergence (`test/test_ws_ext.py:39-58`).
  *
  * Deviation from the reference (documented): no `gap_tolerance` cap — the
  * reference overflows its pre-allocated arrays past 200 gap bricks per
  * event; we emit unbounded.
  */
object RenkoWS {

  implicit private val evEnc: Encoder[PriceEvent] = Encoders.product[PriceEvent]
  implicit private val brickEnc: Encoder[WsBrick] = Encoders.product[WsBrick]
  implicit private val stateEnc: Encoder[WsState] = Encoders.product[WsState]
  implicit private val keyedStateEnc: Encoder[(String, WsState)] =
    Encoders.tuple(Encoders.STRING, Encoders.product[WsState])
  implicit private val stringEnc: Encoder[String] = Encoders.STRING

  // ---------------------------------------------------------------- batch

  /** Batch-mode replay (ordered fold per key), optionally from checkpoint
    * state. Emission-identical to feeding the events through `bricks`.
    */
  def replay(
      events: Dataset[PriceEvent],
      brickSize: Double,
      initialState: Map[String, WsState] = Map.empty): Dataset[WsBrick] = {
    val init = events.sparkSession.sparkContext.broadcast(initialState)
    events
      .groupByKey(_.symbol)
      .flatMapSortedGroups(col("timestamp")) { (sym: String, it: Iterator[PriceEvent]) =>
        val (_, out) = processSorted(sym, it.toArray.toIndexedSeq, init.value.get(sym), brickSize)
        out.iterator
      }
  }

  /** Batch twin of [[bricksWithForming]]: replay every key's events and
    * append ONE forming-state row per key (is_forming = 1) carrying the
    * end-of-replay accumulators — exactly the rows a `bricksWithForming`
    * stream sink holds after its last micro-batch, so [[animateView]] over
    * this output IS the reference's `renko_animate` frame for the whole
    * corpus (renkodf.py:767-858), per key, computed distributed.
    */
  def replayWithForming(
      events: Dataset[PriceEvent],
      brickSize: Double,
      initialState: Map[String, WsState] = Map.empty): Dataset[FormingWsBrick] = {
    val init = events.sparkSession.sparkContext.broadcast(initialState)
    implicit val enc: Encoder[FormingWsBrick] = Encoders.product[FormingWsBrick]
    events
      .groupByKey(_.symbol)
      .flatMapSortedGroups(col("timestamp")) { (sym: String, it: Iterator[PriceEvent]) =>
        val (next, out) =
          processSorted(sym, it.toArray.toIndexedSeq, init.value.get(sym), brickSize)
        val completed = out.map(b => FormingWsBrick(
          b.symbol, b.timestamp, b.open, b.high, b.low, b.close, b.volume,
          b.direction, b.is_reversal, is_forming = 0,
          b.normal_high, b.normal_low, b.nongap_open, b.reverse_nongap_open,
          b.reverse_fake_nongap_open, b.reverse_high, b.reverse_low,
          b.fake_high, b.fake_low))
        val forming = FormingWsBrick(
          sym, next.lastTs, next.lastPrice, next.wickMax, next.wickMin,
          next.lastPrice, next.volume, 0, 0, is_forming = 1,
          next.lastPrice, next.lastPrice, next.lastPrice, next.lastPrice,
          next.lastPrice, next.lastPrice, next.lastPrice, next.lastPrice,
          next.lastPrice)
        (completed :+ forming).iterator
      }
  }

  /** The reference `renko_animate(mode)` frame for EVERY key of a
    * `bricksWithForming` table, computed entirely IN-PLAN — no driver-side
    * collect of per-key state, so 10k symbols animate as one distributed
    * query (every window below is partitioned by `symbol`).
    *
    * Per key: completed bricks mode-projected; the forming brick derived
    * from the key's LATEST forming row via the reference's open/wick
    * adjustment against the key's last completed brick (renkodf.py:795-853
    * — `nongap`-family modes re-open at the wick, `normal` clamps high/low
    * to the last body, others re-open at the last body edge); retention
    * keeps the newest `n − (maxLen − keep)` completed rows per key once a
    * key reaches `maxLen` (same visible window as the reference's
    * destructive trim, applied as a view — see [[animate]]'s documented
    * one-call deviation). Output: mode columns + `is_forming` (the forming
    * row is last in emission order).
    */
  def animateView(
      sink: DataFrame,
      mode: String = "wicks",
      maxLen: Int = 500,
      keep: Int = 250): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val completedMode = graft.operators.RenkoModes
      .project(sink.filter(col("is_forming") === 0).drop("is_forming"), mode)

    // per-key latest forming row (emission order within a ts: one forming
    // row per micro-batch, the latest micro-batch wins)
    val wF = Window.partitionBy(col("symbol")).orderBy(col("timestamp").desc)
    val forming0 = sink.filter(col("is_forming") === 1)
      .withColumn("__rn", row_number().over(wF)).filter(col("__rn") === 1)
      .select(col("symbol"), col("timestamp"), col("close").as("__price"),
        col("high").as("__wmax"), col("low").as("__wmin"), col("volume"))

    // per-key last completed brick IN MODE projection (emission tie-break:
    // bricks of one tick share a timestamp; close*direction is strictly
    // monotone in emission order within the tick). Every column re-aliased:
    // forming0 and lastC share the sink lineage, and a using-join on the
    // common `symbol` attribute is a self-join reference conflict
    val wL = Window.partitionBy(col("symbol"))
      .orderBy(col("timestamp").desc, (col("close") * col("direction")).desc)
    val lastC = completedMode
      .withColumn("__rn", row_number().over(wL)).filter(col("__rn") === 1)
      .select(col("symbol").as("__lsym"), col("open").as("__lo"),
        col("close").as("__lc"))

    val nongapRule =
      Set("nongap", "reverse-nongap", "fake-r-nongap").contains(mode)
    val p = col("__price")
    val up = col("__lc") > col("__lo")
    val oAdj =
      if (nongapRule)
        when(up && p > col("__lc"), col("__wmin"))
          .when(up && p < col("__lo"), col("__wmax"))
          .when(!up && p < col("__lc"), col("__wmax"))
          .when(!up && p > col("__lo"), col("__wmin"))
      else
        when(up && p > col("__lc"), col("__lc"))
          .when(up && p < col("__lo"), col("__lo"))
          .when(!up && p < col("__lc"), col("__lc"))
          .when(!up && p > col("__lo"), col("__lo"))
    val o = coalesce(oAdj, p) // no adjustment (or no completed brick) -> price
    val (h, l) =
      if (mode == "normal")
        (coalesce(when(up && p < col("__lo"), col("__lo"))
          .when(!up && p < col("__lc"), col("__lc")), p),
          coalesce(when(up && p > col("__lc"), col("__lc"))
            .when(!up && p > col("__lo"), col("__lo")), p))
      else (col("__wmax"), col("__wmin"))
    val formingRow = forming0
      .join(lastC, col("symbol") === col("__lsym"), "left")
      .select(
        col("symbol"), col("timestamp"),
        o.as("open"), h.as("high"), l.as("low"), p.as("close"), col("volume"),
        (when(p > o, 1).when(p < o, -1).otherwise(0)).as("direction"),
        lit(0).as("is_reversal"), lit(1).as("is_forming"))

    val retained =
      if (maxLen == 0) completedMode
      else {
        // same self-join shape as lastC: alias the aggregate's key
        val cnt = completedMode.groupBy(col("symbol")).agg(count(lit(1)).as("__n"))
          .select(col("symbol").as("__csym"), col("__n"))
        completedMode
          .withColumn("__rk", row_number().over(wL))
          .join(cnt, col("symbol") === col("__csym"))
          .filter(col("__n") < lit(maxLen.toLong) ||
            col("__rk") <= col("__n") - lit((maxLen - keep).toLong))
          .drop("__rk", "__n", "__csym")
      }
    retained.withColumn("is_forming", lit(0)).unionByName(formingRow)
  }

  // ------------------------------------------------------------- streaming

  /** Streaming renko over a streaming Dataset of events. Within each
    * micro-batch, a key's events are applied in timestamp order (the
    * reference assumes in-order arrival; late data is undefined behavior
    * there too, SURVEY §2.6).
    */
  def bricks(
      events: Dataset[PriceEvent],
      brickSize: Double,
      initialState: Option[Dataset[(String, WsState)]] = None): Dataset[WsBrick] = {
    val grouped = events.groupByKey(_.symbol)
    val fn = (sym: String, it: Iterator[PriceEvent], state: GroupState[WsState]) => {
      val evs = it.toArray.sortBy(_.timestamp)
      if (evs.isEmpty) Iterator.empty
      else {
        val (next, out) = processSorted(sym, evs.toIndexedSeq, state.getOption, brickSize)
        state.update(next)
        out.iterator
      }
    }
    initialState match {
      case Some(init) =>
        grouped.flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout,
          init.groupByKey(_._1).mapValues(_._2))(fn)
      case None =>
        grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    }
  }

  /** Streaming variant that also emits one FORMING-state row per key per
    * micro-batch (flagged `is_forming = 1`): timestamp/close carry the last
    * event, high/low the running wick accumulators, volume the in-progress
    * count. Downstream, `animateFromStream` reconstructs the reference's
    * `renko_animate` frame for any mode from completed rows + the latest
    * forming row — the state never needs to leave the state store by any
    * other channel (SURVEY §3.2's "emit via the state handler").
    */
  def bricksWithForming(
      events: Dataset[PriceEvent],
      brickSize: Double,
      initialState: Option[Dataset[(String, WsState)]] = None): Dataset[FormingWsBrick] = {
    val grouped = events.groupByKey(_.symbol)
    implicit val enc: Encoder[FormingWsBrick] = Encoders.product[FormingWsBrick]
    val fn = (sym: String, it: Iterator[PriceEvent], state: GroupState[WsState]) => {
      val evs = it.toArray.sortBy(_.timestamp)
      if (evs.isEmpty) Iterator.empty
      else {
        val (next, out) = processSorted(sym, evs.toIndexedSeq, state.getOption, brickSize)
        state.update(next)
        val completed = out.map(b => FormingWsBrick(
          b.symbol, b.timestamp, b.open, b.high, b.low, b.close, b.volume,
          b.direction, b.is_reversal, is_forming = 0,
          b.normal_high, b.normal_low, b.nongap_open, b.reverse_nongap_open,
          b.reverse_fake_nongap_open, b.reverse_high, b.reverse_low,
          b.fake_high, b.fake_low))
        val forming = FormingWsBrick(
          sym, next.lastTs, next.lastPrice, next.wickMax, next.wickMin,
          next.lastPrice, next.volume, 0, 0, is_forming = 1,
          next.lastPrice, next.lastPrice, next.lastPrice, next.lastPrice,
          next.lastPrice, next.lastPrice, next.lastPrice, next.lastPrice,
          next.lastPrice)
        (completed :+ forming).iterator
      }
    }
    initialState match {
      case Some(init) =>
        grouped.flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout,
          init.groupByKey(_._1).mapValues(_._2))(fn)
      case None =>
        grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    }
  }

  /** Reconstruct the reference `renko_animate(mode)` frame for one key from
    * a `bricksWithForming` sink table: completed bricks mode-projected, plus
    * the forming brick derived from the LATEST forming row (the reference's
    * open/wick adjustment rules, renkodf.py:795-853).
    */
  def animateFromStream(
      sink: DataFrame,
      mode: String = "wicks",
      maxLen: Int = 500,
      keep: Int = 250): DataFrame =
    // delegate to the distributed per-key view (no driver-side collect of
    // per-key state — 10k symbols animate as one plan) and present it in
    // the reference frame shape: emission order, forming row last per key
    animateView(sink, mode, maxLen, keep)
      .orderBy(col("symbol"), col("timestamp"), col("is_forming"),
        col("close") * col("direction"))
      .drop("is_forming")

  /** Rehydrate per-key initial state from a `to_rws` checkpoint table
    * (reference `renkodf.py:465,504-508`: brick_size from the table, wick
    * min/max and last_renko all reset to the last row's close).
    */
  def stateFromCheckpoint(rws: DataFrame): Dataset[(String, WsState)] = {
    import org.apache.spark.sql.expressions.Window
    // bricks emitted by one tick share a timestamp; within the tick, emission
    // order is monotone in close*direction, so the tie-break below picks the
    // truly LAST brick (the reference reads .iat[-1] on an emission-ordered
    // frame, renkodf.py:504-508) instead of an arbitrary same-ts row
    val w = Window.partitionBy(col("symbol"))
      .orderBy(col("timestamp").desc, (col("close") * col("direction")).desc)
    val last = rws
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("symbol", "brick_size", "close", "direction", "volume", "timestamp")
    last.map { r =>
      val close = r.getAs[Double]("close")
      r.getAs[String]("symbol") -> WsState(
        brickSize = r.getAs[Double]("brick_size"),
        lastRenko = close,
        lastDirection = r.getAs[Number]("direction").intValue(),
        wickMin = close,
        wickMax = close,
        volume = r.getAs[Number]("volume").longValue(),
        lastTs = r.getAs[Number]("timestamp").longValue(),
        lastPrice = close)
    }
  }

  // ------------------------------------------------------------ the fold

  /** Apply a sorted run of events for one key. Returns (new state, emitted
    * rows). A fresh key consumes its first event as the anchor and emits the
    * synthetic initial brick.
    */
  private[graft] def processSorted(
      sym: String,
      evs: IndexedSeq[PriceEvent], // indexed: the loop below does evs(idx)
      st: Option[WsState],
      brickSize: Double): (WsState, Seq[WsBrick]) = {
    val out = new ArrayBuffer[WsBrick]()
    val bs = st.map(_.brickSize).getOrElse(brickSize)
    val eng = new RenkoEngine(bs)
    var idx = 0
    var lastTs = 0L
    var lastPrice = 0.0

    st match {
      case Some(s) =>
        eng.restore(RenkoSnapshot(s.lastRenko, s.lastDirection, s.wickMin, s.wickMax, s.volume, 1L, 1L))
        lastTs = s.lastTs
        lastPrice = s.lastPrice
      case None =>
        val first = evs.head
        val anchor = eng.initAnchor(first.price)
        eng.initAt(anchor, 1) // synthetic row has direction 1 (renkodf.py:471,508)
        out += initialBrick(sym, first.timestamp, anchor)
        lastTs = first.timestamp
        lastPrice = first.price
        idx = 1
    }

    val buf = new ArrayBuffer[Brick](4)
    while (idx < evs.length) {
      val e = evs(idx)
      buf.clear()
      eng.step(e.timestamp, e.price, 0L, buf)
      buf.foreach(b => out += toWsBrick(sym, b))
      lastTs = e.timestamp
      lastPrice = e.price
      idx += 1
    }

    val snap = eng.snapshot
    val next = WsState(bs, snap.lastRenko, snap.lastDirection, snap.wickMin,
      snap.wickMax, snap.volume, lastTs, lastPrice)
    (next, out.toSeq)
  }

  /** The synthetic first row: every price column at the anchor
    * (renkodf.py:468-499).
    */
  private def initialBrick(sym: String, ts: Long, anchor: Double): WsBrick =
    WsBrick(sym, ts, anchor, anchor, anchor, anchor, 1L, 1, 1,
      anchor, anchor, anchor, anchor, anchor, anchor, anchor, anchor, anchor)

  private def toWsBrick(sym: String, b: Brick): WsBrick =
    WsBrick(sym, b.ts, b.open, b.high, b.low, b.close, b.volume, b.direction,
      b.isReversal, b.normalHigh, b.normalLow, b.nongapOpen,
      b.reverseNongapOpen, b.reverseFakeNongapOpen,
      b.reverseHigh, b.reverseLow, b.fakeHigh, b.fakeLow)

  // ------------------------------------------------------------- animate

  /** Live-chart view: completed bricks of one key (mode-projected, with the
    * integer `timestamp` column) plus ONE synthetic forming brick computed
    * from the live state (reference `renko_animate`, `renkodf.py:767-858`).
    *
    * Retention is a non-destructive view here: when the completed length
    * reaches `maxLen`, the oldest `maxLen - keep` rows are omitted from the
    * returned frame (the reference destructively deletes them from its
    * internal frame, `renkodf.py:855-856` — same visible window, but our
    * engine's state/results remain append-only).
    *
    * Documented deviation (one call): the reference computes the returned
    * frame BEFORE deleting, so on the exact call where the threshold is
    * first reached its return is still untrimmed and the trim only shows on
    * the next call; this view applies the window on the same call. All
    * subsequent calls agree. Golden parity tests run with `max_len = 0`
    * (retention off), where the paths are identical.
    */
  def animate(
      completedMode: DataFrame,
      state: WsState,
      mode: String = "wicks",
      maxLen: Int = 500,
      keep: Int = 250): DataFrame = {
    val spark = completedMode.sparkSession
    val lastRows = completedMode.orderBy(col("timestamp").desc).limit(1).collect()
    val n = completedMode.count()

    val wsPrice = state.lastPrice
    var o = wsPrice
    var h = if (mode != "normal") state.wickMax else wsPrice
    var l = if (mode != "normal") state.wickMin else wsPrice
    val c = wsPrice

    if (lastRows.nonEmpty) {
      val last = lastRows(0)
      val lastClose = last.getAs[Double]("close")
      val lastOpen = last.getAs[Double]("open")
      val nongapRule = Set("nongap", "reverse-nongap", "fake-r-nongap").contains(mode)
      if (lastClose > lastOpen) { // last brick UP (renkodf.py:825-834)
        if (wsPrice > lastClose) {
          o = if (nongapRule) state.wickMin else lastClose
          if (mode == "normal") l = lastClose
        } else if (wsPrice < lastOpen) {
          o = if (nongapRule) state.wickMax else lastOpen
          if (mode == "normal") h = lastOpen
        }
      } else { // last brick DOWN (renkodf.py:836-845)
        if (wsPrice < lastClose) {
          o = if (nongapRule) state.wickMax else lastClose
          if (mode == "normal") h = lastClose
        } else if (wsPrice > lastOpen) {
          o = if (nongapRule) state.wickMin else lastOpen
          if (mode == "normal") l = lastOpen
        }
      }
    }
    val dir = if (c > o) 1 else if (c < o) -1 else 0

    import spark.implicits._
    val forming = Seq((state.lastTs, o, h, l, c, state.volume, dir, 0))
      .toDF("timestamp", "open", "high", "low", "close", "volume", "direction", "is_reversal")
    val formingAligned = forming.select(completedMode.columns.map {
      case "symbol" => lit(completedMode.select("symbol").head(1).headOption.map(_.getString(0)).getOrElse("")).as("symbol")
      case c => col(c)
    }.toSeq: _*)

    val retained =
      if (maxLen != 0 && n >= maxLen)
        completedMode.orderBy(col("timestamp").desc).limit((n - (maxLen - keep)).toInt).orderBy(col("timestamp"))
      else completedMode
    retained.unionByName(formingAligned)
  }
}
