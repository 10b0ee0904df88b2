package perfbench

import org.apache.spark.sql.Row

import scala.collection.mutable.ArrayBuffer

/** The output checks. Each returns the list of its failures (empty =
  * passed), naming the first offending row, so a run can say why it is not
  * correct and the self-test can show that each check rejects a corrupted
  * result. None of them calls the program.
  */
object Checks {

  type Series = Map[String, IndexedSeq[RefBrick]]

  // ------------------------------------------------------------- row codecs

  def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.time.LocalDateTime => micros(d.toInstant(java.time.ZoneOffset.UTC))
    case n: Number => n.longValue()
  }

  /** Rows of a wide table, a mode view or a stream table, keyed by series.
    * Columns are found by name; a table without tick indices (the stream
    * table) gets -1 there, and a mode view's missing columns read NaN. */
  def bricks(columns: Seq[String], rows: Array[Row]): Series = {
    val ix = columns.zipWithIndex.toMap
    def d(r: Row, c: String): Double = ix.get(c).map(i => r.getDouble(i)).getOrElse(Double.NaN)
    def l(r: Row, c: String): Long = ix.get(c).map(i => r.getAs[Number](i).longValue()).getOrElse(-1L)
    val tsCol = Seq("datetime", "datetime_us", "timestamp").find(ix.contains).get
    rows.toIndexedSeq.map { r =>
      (if (ix.contains("symbol")) r.getString(ix("symbol")) else "") -> RefBrick(
        micros(r.get(ix(tsCol))), d(r, "open"), d(r, "high"), d(r, "low"), d(r, "close"),
        l(r, "volume"), l(r, "direction").toInt, l(r, "is_reversal").toInt,
        l(r, "tick_index_open"), l(r, "tick_index_close"),
        d(r, "normal_high"), d(r, "normal_low"), d(r, "nongap_open"),
        d(r, "reverse_nongap_open"), d(r, "reverse_fake_nongap_open"),
        d(r, "reverse_high"), d(r, "reverse_low"), d(r, "fake_high"), d(r, "fake_low"))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Emission order within a series: bricks of one tick share its
    * timestamp, and close * direction grows along them. */
  def emissionOrder(xs: IndexedSeq[RefBrick]): IndexedSeq[RefBrick] =
    xs.sortBy(b => (b.ts, b.close * b.direction))

  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  private def sameBrick(a: RefBrick, b: RefBrick, cols: Seq[String]): Option[String] =
    cols.find { c =>
      !(c match {
        case "datetime" => a.ts == b.ts
        case "open" => same(a.open, b.open)
        case "high" => same(a.high, b.high)
        case "low" => same(a.low, b.low)
        case "close" => same(a.close, b.close)
        case "volume" => a.volume == b.volume
        case "direction" => a.direction == b.direction
        case "is_reversal" => a.isReversal == b.isReversal
        case "tick_index_open" => a.tickOpen == b.tickOpen
        case "tick_index_close" => a.tickClose == b.tickClose
        case "normal_high" => same(a.normalHigh, b.normalHigh)
        case "normal_low" => same(a.normalLow, b.normalLow)
        case "nongap_open" => same(a.nongapOpen, b.nongapOpen)
        case "reverse_nongap_open" => same(a.reverseNongapOpen, b.reverseNongapOpen)
        case "reverse_fake_nongap_open" => same(a.reverseFakeNongapOpen, b.reverseFakeNongapOpen)
        case "reverse_high" => same(a.reverseHigh, b.reverseHigh)
        case "reverse_low" => same(a.reverseLow, b.reverseLow)
        case "fake_high" => same(a.fakeHigh, b.fakeHigh)
        case "fake_low" => same(a.fakeLow, b.fakeLow)
      })
    }

  val WideCols: Seq[String] = Seq("datetime", "open", "high", "low", "close", "volume",
    "direction", "is_reversal", "tick_index_open", "tick_index_close", "normal_high",
    "normal_low", "nongap_open", "reverse_nongap_open", "reverse_fake_nongap_open",
    "reverse_high", "reverse_low", "fake_high", "fake_low")
  val ViewCols: Seq[String] = Seq("datetime", "open", "high", "low", "close", "volume",
    "direction", "is_reversal", "tick_index_open", "tick_index_close")

  /** The mode view the reference projects from a wide brick. */
  def asView(b: RefBrick, mode: String): RefBrick = {
    val (o, h, l) = b.modeOhl(mode)
    b.copy(open = o, high = h, low = l)
  }

  // ------------------------------------------------------- check 1: folds

  /** Each series' table equals the expected fold, row for row in emission
    * order, in every named column, exactly. */
  def equalsFold(what: String, expected: Series, got: Series, cols: Seq[String]): Seq[String] = {
    val out = new ArrayBuffer[String]()
    val missing = expected.keySet.filter(k => expected(k).nonEmpty) -- got.keySet
    val extra = got.keySet -- expected.keySet
    if (missing.nonEmpty) out += s"$what: series missing from the output: ${missing.toSeq.sorted.take(3).mkString(", ")}"
    if (extra.nonEmpty) out += s"$what: unexpected series: ${extra.toSeq.sorted.take(3).mkString(", ")}"
    for ((sym, exp0) <- expected.toSeq.sortBy(_._1) if out.size < 5) {
      val exp = emissionOrder(exp0)
      val g = emissionOrder(got.getOrElse(sym, IndexedSeq.empty))
      val firstDiff = exp.indices.find(i => i >= g.size || sameBrick(exp(i), g(i), cols).nonEmpty)
      firstDiff match {
        case Some(i) =>
          val col = if (i >= g.size) "row" else sameBrick(exp(i), g(i), cols).get
          out += s"$what: series $sym row $i differs in $col (${exp.size} expected rows, ${g.size} got): " +
            s"expected ${exp(i)}, got ${g.lift(i).getOrElse("nothing")}"
        case None if g.size != exp.size =>
          out += s"$what: series $sym has ${g.size - exp.size} extra rows after row ${exp.size}: ${g(exp.size)}"
        case None =>
      }
    }
    out.toSeq
  }

  // -------------------------------------------------- check 2: properties

  /** Consecutive closes of a series differ by one brick (two on a
    * reversal) in the brick's direction. */
  def brickSteps(what: String, s: Series, brick: Double): Seq[String] =
    s.toSeq.sortBy(_._1).iterator.flatMap { case (sym, xs0) =>
      val xs = emissionOrder(xs0)
      (1 until xs.size).iterator.collect {
        case i if {
          val m = if (xs(i).isReversal == 1) 2 else 1
          val d = xs(i).close - xs(i - 1).close
          math.abs(d - xs(i).direction * m * brick) > 1e-9 * brick
        } => s"$what: series $sym row $i: close ${xs(i).close} after ${xs(i - 1).close} is not " +
          s"${if (xs(i).isReversal == 1) 2 else 1} brick(s) in direction ${xs(i).direction}"
      }
    }.take(3).toSeq

  /** Brick datetimes do not decrease along the tick index. */
  def timeOrder(what: String, s: Series): Seq[String] =
    s.toSeq.sortBy(_._1).iterator.flatMap { case (sym, xs0) =>
      val xs = xs0.sortBy(b => (b.tickClose, b.close * b.direction))
      (1 until xs.size).iterator.collect {
        case i if xs(i).ts < xs(i - 1).ts =>
          s"$what: series $sym: datetime ${xs(i).ts} at tick ${xs(i).tickClose} is before ${xs(i - 1).ts}"
      }
    }.take(3).toSeq

  /** A mode view has the wide table's rows, with the same datetime, close,
    * volume and direction row for row. */
  def viewMatchesWide(mode: String, wide: Series, view: Series): Seq[String] = {
    val out = new ArrayBuffer[String]()
    if (wide.values.map(_.size).sum != view.values.map(_.size).sum)
      out += s"view $mode: ${view.values.map(_.size).sum} rows, wide table has ${wide.values.map(_.size).sum}"
    for ((sym, w0) <- wide.toSeq.sortBy(_._1) if out.isEmpty) {
      val w = emissionOrder(w0)
      val v = emissionOrder(view.getOrElse(sym, IndexedSeq.empty))
      val bad = w.indices.find(i => i >= v.size || sameBrick(w(i), v(i), Seq("datetime", "close", "volume", "direction")).nonEmpty)
      bad.foreach(i => out += s"view $mode: series $sym row $i differs from the wide table: ${w(i)} vs ${v.lift(i)}")
    }
    out.toSeq
  }

  /** In the wicks view the wick encloses the body. */
  def wicksEnclose(s: Series): Seq[String] =
    s.toSeq.sortBy(_._1).iterator.flatMap { case (sym, xs) =>
      xs.iterator.collect {
        case b if !(b.high >= math.max(b.open, b.close) && b.low <= math.min(b.open, b.close)) =>
          s"wicks view: series $sym at ${b.ts}: high ${b.high} / low ${b.low} do not enclose open ${b.open} / close ${b.close}"
      }
    }.take(3).toSeq

  // ----------------------------------------------------- check 3: restart

  /** Across a stop and restart no brick is lost or duplicated: the union of
    * both legs is, as a multiset, the uninterrupted fold. */
  def sameMultiset(what: String, expected: Series, got: Series): Seq[String] = {
    val out = new ArrayBuffer[String]()
    for (sym <- (expected.keySet ++ got.keySet).toSeq.sorted if out.size < 3) {
      val e = expected.getOrElse(sym, IndexedSeq.empty).groupBy(identity).map { case (k, v) => k -> v.size }
      val g = got.getOrElse(sym, IndexedSeq.empty).groupBy(identity).map { case (k, v) => k -> v.size }
      if (e != g) {
        val dup = g.collectFirst { case (b, n) if n > e.getOrElse(b, 0) => s"${n - e.getOrElse(b, 0)} extra copy of $b" }
        val lost = e.collectFirst { case (b, n) if n > g.getOrElse(b, 0) => s"lost $b" }
        out += s"$what: series $sym: ${(dup ++ lost).mkString("; ")}"
      }
    }
    out.toSeq
  }

  // ------------------------------------------------------ check 4: corpus

  /** (doc_id, rank, bm25) rows of one bm25TopK answer, in rank order. */
  type Bm25 = IndexedSeq[(Long, Int, Double)]

  def bm25Rows(rows: Array[Row]): Bm25 =
    rows.toIndexedSeq.map(r => (r.getAs[Number]("doc_id").longValue(), r.getAs[Number]("rank").intValue(),
      r.getAs[Number]("bm25").doubleValue())).sortBy(_._2)

  /** Scores do not increase with rank, ranks are 1..n. */
  def bm25Ordered(what: String, a: Bm25): Seq[String] = {
    val bad = (1 until a.size).find(i => a(i)._3 > a(i - 1)._3)
      .map(i => s"$what: score ${a(i)._3} at rank ${a(i)._2} exceeds ${a(i - 1)._3} at rank ${a(i - 1)._2}")
    val ranks = if (a.map(_._2) != (1 to a.size)) Some(s"$what: ranks ${a.map(_._2).take(5)} are not 1..${a.size}") else None
    (bad ++ ranks).toSeq
  }

  /** Equal answers; where both cut a run of tied scores at k, the ids in
    * the tie may differ. */
  def bm25Equal(what: String, expected: Bm25, got: Bm25): Seq[String] = {
    val scores = expected.map(_._3) == got.map(_._3)
    val cutScore = if (expected.nonEmpty) expected.last._3 else 0.0
    val ids = expected.filter(_._3 != cutScore).map(_._1).toSet == got.filter(_._3 != cutScore).map(_._1).toSet
    if (scores && ids) Nil
    else Seq(s"$what: expected ${expected.take(4)}..., got ${got.take(4)}...")
  }

  /** No deleted id in an answer given after its delete. */
  def noDeleted(what: String, ids: Seq[Long], deleted: Set[Long]): Seq[String] =
    ids.find(deleted).map(id => s"$what: deleted id $id returned").toSeq

  /** One probe answer (neighbor_id, cos_sim) in rank order against the
    * exact cosines of every live vector. Scores must agree to rounding, and
    * the ids must be an exact top-k up to ties within that rounding. */
  def topKExact(what: String, k: Int, exact: Map[Long, Double], got: IndexedSeq[(Long, Double)]): Seq[String] = {
    val tol = 2e-9
    val ranked = exact.toSeq.sortBy(x => (-x._2, x._1))
    val kth = if (ranked.size >= k) ranked(k - 1)._2 else Double.NegativeInfinity
    val out = new ArrayBuffer[String]()
    if (got.size != math.min(k, ranked.size)) out += s"$what: ${got.size} neighbours, expected ${math.min(k, ranked.size)}"
    got.find { case (id, c) => !exact.contains(id) }.foreach(x => out += s"$what: neighbour ${x._1} is not a live vector")
    got.find { case (id, c) => exact.contains(id) && math.abs(exact(id) - c) > tol }
      .foreach(x => out += s"$what: neighbour ${x._1} scored ${x._2}, exact cosine ${exact(x._1)}")
    got.find { case (id, _) => exact.get(id).exists(_ < kth - tol) }
      .foreach(x => out += s"$what: neighbour ${x._1} (${exact(x._1)}) is below the exact k-th score $kth")
    val gotIds = got.map(_._1).toSet
    ranked.find { case (id, c) => c > kth + tol && !gotIds(id) }
      .foreach(x => out += s"$what: exact neighbour ${x._1} (${x._2}) is missing")
    out.toSeq
  }
}
