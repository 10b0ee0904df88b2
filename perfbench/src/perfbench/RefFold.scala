package perfbench

import scala.collection.mutable.ArrayBuffer

/** One brick as the benchmark's own fold computes it: the 19 columns of the
  * reference's wide table (SURVEY §1.2). `tickOpen`/`tickClose` are -1 under
  * the stream rules, whose table has no tick indices.
  */
final case class RefBrick(
    ts: Long,
    open: Double, high: Double, low: Double, close: Double,
    volume: Long, direction: Int, isReversal: Int,
    tickOpen: Long, tickClose: Long,
    normalHigh: Double, normalLow: Double,
    nongapOpen: Double, reverseNongapOpen: Double, reverseFakeNongapOpen: Double,
    reverseHigh: Double, reverseLow: Double,
    fakeHigh: Double, fakeLow: Double) {

  /** (open, high, low) of one mode view (SURVEY §2.2, renkodf.py:339-380). */
  def modeOhl(mode: String): (Double, Double, Double) = mode match {
    case "normal" => (open, normalHigh, normalLow)
    case "wicks" => (open, high, low)
    case "nongap" => (nongapOpen, high, low)
    case "reverse-wicks" => (open, reverseHigh, reverseLow)
    case "reverse-nongap" => (reverseNongapOpen, reverseHigh, reverseLow)
    case "fake-r-wicks" => (open, fakeHigh, fakeLow)
    case "fake-r-nongap" => (reverseFakeNongapOpen, fakeHigh, fakeLow)
  }
}

/** A sequential renko fold written from the reference's rules (SURVEY §2.1
  * clauses 1-8 and the numerics of §7.5), sharing no code with the program.
  * It is what the benchmark checks the program's bricks against.
  *
  * Batch rules: the grid anchor is `first // brick * brick` (Python float
  * floor division), the initial direction is 0, ticks are numbered from 0
  * and every brick carrying the first emitted timestamp is dropped.
  * Stream rules: the first event emits a synthetic brick at the anchor
  * (volume 1, direction +1, is_reversal 1, every price column the anchor),
  * the fold continues with direction +1, and nothing is dropped.
  */
object RefFold {

  /** CPython's `float_floor_div`: fmod, exact-quotient correction, and the
    * round-half-up of the floored quotient. */
  def pyFloorDiv(x: Double, y: Double): Double = {
    var mod = x % y
    var div = (x - mod) / y
    if (mod != 0.0) {
      if ((y < 0) != (mod < 0)) { mod += y; div -= 1.0 }
    }
    if (div != 0.0) {
      var floordiv = math.floor(div)
      if (div - floordiv > 0.5) floordiv += 1.0
      floordiv
    } else {
      0.0 * x / y // signed zero as CPython returns it
    }
  }

  def anchor(first: Double, brick: Double): Double = pyFloorDiv(first, brick) * brick

  /** Batch fold over one time-ordered series. */
  def batch(ts: Array[Long], px: Array[Double], from: Int, until: Int, brick: Double): IndexedSeq[RefBrick] = {
    if (until - from < 1) return IndexedSeq.empty
    val st = new State(brick, anchor(px(from), brick), 0, withTickIndex = true)
    var i = from + 1
    while (i < until) {
      st.tick(ts(i), px(i), (i - from).toLong)
      i += 1
    }
    val out = st.out
    if (out.isEmpty) IndexedSeq.empty
    else {
      val first = out(0).ts
      out.filter(_.ts != first).toIndexedSeq
    }
  }

  /** Stream fold over one time-ordered series, from its first event. */
  def stream(ts: Array[Long], px: Array[Double], from: Int, until: Int, brick: Double): IndexedSeq[RefBrick] = {
    if (until - from < 1) return IndexedSeq.empty
    val a = anchor(px(from), brick)
    val st = new State(brick, a, 1, withTickIndex = false)
    st.out += RefBrick(ts(from), a, a, a, a, 1L, 1, 1, -1L, -1L, a, a, a, a, a, a, a, a, a)
    var i = from + 1
    while (i < until) {
      st.tick(ts(i), px(i), -1L)
      i += 1
    }
    st.out.toIndexedSeq
  }

  private final class State(brick: Double, start: Double, startDir: Int, withTickIndex: Boolean) {
    private val inv = 1.0 / brick // clause 2: reciprocal multiply, not divide
    var lastRenko: Double = start
    var lastDir: Int = startDir
    var wickMin: Double = start
    var wickMax: Double = start
    var volume: Long = 1L
    var tickOpen: Long = 1L
    var tickClose: Long = 1L
    val out = new ArrayBuffer[RefBrick]()

    def tick(t: Long, price: Double, i: Long): Unit = {
      // clause 2: accumulate, then count bricks
      wickMin = math.min(wickMin, price)
      wickMax = math.max(wickMax, price)
      volume += 1
      tickClose = i
      val n = (price - lastRenko) * inv
      if (math.abs(n) < 1.0) return
      val dir = if (n > 0) 1 else -1
      if (dir * lastDir >= 0) {
        // clause 3: trunc(|n|) bricks in the same direction
        var k = math.abs(n).toLong
        while (k > 0) { emit(t, dir, reversal = false); k -= 1 }
      } else if (math.abs(n) >= 2.0) {
        // clause 4: a 2-brick reversal, then trunc(|n - 2 dir|) more
        emit(t, dir, reversal = true)
        var k = math.abs(n - 2 * dir).toLong
        while (k > 0) { emit(t, dir, reversal = false); k -= 1 }
      }
    }

    private def emit(t: Long, dir: Int, reversal: Boolean): Unit = {
      val up = dir > 0
      val prev = lastRenko
      val close = prev + dir * (if (reversal) 2 else 1) * brick
      val open = close - dir * brick
      // clause 5
      val high = if (up) close else wickMax
      val low = if (up) wickMin else close
      val normalHigh = math.max(open, close)
      val normalLow = math.min(open, close)
      val nongap =
        if (up) { if (open > low) low else open }
        else { if (open < high) high else open }
      val rev = if (reversal) 1 else 0
      out += RefBrick(
        t, open, high, low, close, volume, dir, rev,
        if (withTickIndex) tickOpen else -1L, if (withTickIndex) tickClose else -1L,
        normalHigh, normalLow, nongap,
        if (reversal) nongap else open,
        if (reversal) prev else open,
        if (reversal) high else normalHigh,
        if (reversal) low else normalLow,
        if (reversal && !up) prev else normalHigh,
        if (reversal && up) prev else normalLow)
      // clause 6
      val reset = if (reversal) open else close
      wickMin = reset
      wickMax = reset
      volume = 1L
      tickOpen = tickClose
      lastRenko = close
      lastDir = dir
    }
  }
}
