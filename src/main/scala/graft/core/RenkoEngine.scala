package graft.core

import scala.collection.mutable.Growable

/** CPython-compatible float helpers.
  *
  * The reference anchors the renko grid with Python float floor-division
  * (`/root/reference/src/renkodf/renkodf.py:88`). Python `//` on doubles is
  * NOT `math.floor(x / y)` — CPython computes it through `fmod` with a
  * correction step, which can differ from the naive formula in the last bit.
  * We replicate the exact operation sequence so anchors are bit-identical.
  */
object PyMath {
  /** Bit-exact CPython `x // y` for doubles (CPython `float_floor_div`). */
  def floorDiv(x: Double, y: Double): Double = {
    val mod = x % y // JVM `%` on doubles == C fmod, same as CPython's fmod
    var div = (x - mod) / y
    if (mod != 0.0 && ((y < 0.0) != (mod < 0.0))) div -= 1.0
    var fd = math.floor(div)
    if (div - fd > 0.5) fd += 1.0
    fd
  }
}

/** Serializable snapshot of the scan state — the cross-row accumulator the
  * renko fold carries. Used as the `GroupState` payload in streaming and for
  * checkpoint/resume (`to_rws` → `RenkoWS(external_df)` splice,
  * reference `renkodf.py:504-508`).
  */
final case class RenkoSnapshot(
    lastRenko: Double,
    lastDirection: Int,
    wickMin: Double,
    wickMax: Double,
    volume: Long,
    tickOpen: Long,
    tickClose: Long)

/** One completed renko brick — the 19-column "wide" record of the reference
  * (`renkodf.py:60-67`): OHLCV + utils + all seven mode variants computed in
  * one pass so mode views are pure projections.
  *
  * `ts` is epoch time in the input's unit (µs for batch timestamps).
  */
final case class Brick(
    ts: Long,
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Long,
    direction: Int,
    isReversal: Int,
    tickIndexOpen: Long,
    tickIndexClose: Long,
    normalHigh: Double,
    normalLow: Double,
    nongapOpen: Double,
    reverseNongapOpen: Double,
    reverseFakeNongapOpen: Double,
    reverseHigh: Double,
    reverseLow: Double,
    fakeHigh: Double,
    fakeLow: Double)

/** The renko state machine: an ordered stateful scan that folds ticks into
  * `(state, 0..N bricks)`. Pure compute, no Spark dependency — the batch
  * operator (`flatMapSortedGroups`) and the streaming operator
  * (`flatMapGroupsWithState`) both wrap this single implementation, which
  * makes batch ≡ stream hold by construction (the reference proves the same
  * property by test instead, `test/test_ws.py:44-48`).
  *
  * Semantics re-derived from `/root/reference/src/renkodf/renkodf.py:71-252`
  * (batch) and `:513-690` (stream): grid anchor by floor-division; emit when
  * the price moves ≥ 1 brick in the same direction or ≥ 2 bricks against it;
  * reversal bricks jump 2·brickSize and carry `isReversal = 1`; the first
  * brick of a tick carries the accumulated volume, artificial gap bricks get
  * volume 1; wick accumulators reset to the brick open after a reversal and
  * to the close otherwise.
  *
  * Numerics contract: identical operation order to the reference
  * (`(price - lastRenko) * (1/brickSize)`, `lastRenko + dir*mult*brickSize`,
  * truncation toward zero) so emitted doubles are bit-identical to the
  * Python/NumPy implementation.
  */
final class RenkoEngine(val brickSize: Double) extends Serializable {
  require(brickSize > 0, "brick_size cannot be 'None' or '<= 0'")

  private val invBrick: Double = 1.0 / brickSize // renkodf.py:98

  private var lastRenko: Double = 0.0
  private var lastDirection: Int = 0
  private var wickMin: Double = 0.0
  private var wickMax: Double = 0.0
  private var volume: Long = 1L
  private var tickOpen: Long = 1L
  private var tickClose: Long = 1L
  private var started: Boolean = false

  def isStarted: Boolean = started
  def currentLastRenko: Double = lastRenko
  def currentDirection: Int = lastDirection
  def currentWickMin: Double = wickMin
  def currentWickMax: Double = wickMax
  def currentVolume: Long = volume

  /** Initialize from the first tick: anchor = `firstPrice // brickSize *
    * brickSize` (renkodf.py:88-95). Returns the anchor price. The first tick
    * itself emits nothing and does not touch the wick accumulators.
    */
  def initAnchor(firstPrice: Double): Double = {
    requireFinite(firstPrice)
    val anchor = PyMath.floorDiv(firstPrice, brickSize) * brickSize
    initAt(anchor, 0)
    anchor
  }

  /** Initialize at an explicit price level with an explicit starting
    * direction (streaming resume path, renkodf.py:504-508).
    */
  def initAt(price: Double, direction: Int): Unit = {
    requireFinite(price)
    lastRenko = price
    lastDirection = direction
    wickMin = price
    wickMax = price
    volume = 1L
    tickOpen = 1L
    tickClose = 1L
    started = true
  }

  def snapshot: RenkoSnapshot =
    RenkoSnapshot(lastRenko, lastDirection, wickMin, wickMax, volume, tickOpen, tickClose)

  def restore(s: RenkoSnapshot): Unit = {
    lastRenko = s.lastRenko
    lastDirection = s.lastDirection
    wickMin = s.wickMin
    wickMax = s.wickMax
    volume = s.volume
    tickOpen = s.tickOpen
    tickClose = s.tickClose
    started = true
  }

  /** Fold one tick into the state; append 0..N completed bricks to `out`.
    * Returns the number of bricks emitted. `tickIdx` is the 0-based position
    * of the tick in its series (the reference's loop variable `i`).
    */
  def step(ts: Long, price: Double, tickIdx: Long, out: Growable[Brick]): Int = {
    requireFinite(price)
    // per-tick accumulator update (renkodf.py:104-107)
    if (price < wickMin) wickMin = price
    if (price > wickMax) wickMax = price
    volume += 1L
    tickClose = tickIdx

    val n = (price - lastRenko) * invBrick // renkodf.py:109
    if (math.abs(n) < 1.0) return 0

    val isUp = n > 0
    val dir = if (isUp) 1 else -1
    val sameDirection = dir * lastDirection >= 0 // renkodf.py:118

    var total = if (sameDirection) n else 0.0
    var emitted = 0

    // opposite direction needs a 2-brick move; the first brick skips the
    // previous brick's body (renkodf.py:122-183)
    if (!sameDirection && math.abs(n) >= 2.0) {
      emitBrick(reversal = true, dir, isUp, ts, out)
      emitted += 1
      total = n - 2 * dir
    }

    // remaining bricks in the current direction; `int()` truncates toward
    // zero like Long conversion (renkodf.py:185-244)
    val sameBricks = math.abs(total.toLong)
    var k = 0L
    while (k < sameBricks) {
      emitBrick(reversal = false, dir, isUp, ts, out)
      emitted += 1
      k += 1
    }
    emitted
  }

  /** A non-finite price has no place on the grid and is rejected before it
    * touches the state: +∞ would emit without end (`(+∞).toLong` is
    * `Long.MaxValue` bricks), −∞ a spurious reversal, NaN nothing while
    * still counting toward the next brick's volume, and a non-finite first
    * price a NaN anchor that never emits.
    */
  private def requireFinite(price: Double): Unit =
    if (!java.lang.Double.isFinite(price))
      throw new IllegalArgumentException(s"renko price must be finite, got $price")

  /** Emit one brick and reset the per-brick accumulators. Shared between the
    * reversal and same-direction paths — they differ only in the multiplier
    * and the `isReversal` flag (the reference duplicates this block,
    * renkodf.py:129-183 vs :189-244).
    */
  private def emitBrick(reversal: Boolean, dir: Int, isUp: Boolean, ts: Long, out: Growable[Brick]): Unit = {
    val mult = if (reversal) 2 else 1
    val close = lastRenko + (dir * mult * brickSize)
    val open = if (isUp) close - brickSize else close + brickSize
    val wick = if (isUp) wickMin else wickMax
    val high = if (isUp) close else wick
    val low = if (isUp) wick else close

    val normalHigh = if (isUp) close else open
    val normalLow = if (isUp) open else close
    val nongap =
      if ((isUp && open > low) || (!isUp && open < high)) wick else open
    val fakeWick = lastRenko // previous close acts as the "fake" wick

    out += Brick(
      ts = ts,
      open = open,
      high = high,
      low = low,
      close = close,
      volume = volume,
      direction = dir,
      isReversal = if (reversal) 1 else 0,
      tickIndexOpen = tickOpen,
      tickIndexClose = tickClose,
      normalHigh = normalHigh,
      normalLow = normalLow,
      nongapOpen = nongap,
      reverseNongapOpen = if (reversal) nongap else open,
      reverseFakeNongapOpen = if (reversal) fakeWick else open,
      reverseHigh = if (reversal) high else normalHigh,
      reverseLow = if (reversal) low else normalLow,
      fakeHigh = if (reversal && !isUp) fakeWick else normalHigh,
      fakeLow = if (reversal && isUp) fakeWick else normalLow
    )

    // post-brick reset (renkodf.py:169-177): wick restarts at the open after
    // a reversal (the un-traversed side), at the close otherwise
    val wickReset = if (reversal) open else close
    wickMin = wickReset
    wickMax = wickReset
    volume = 1L
    tickOpen = tickClose
    lastDirection = dir
    lastRenko = close
  }
}
