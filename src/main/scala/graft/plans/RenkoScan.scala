package graft.plans

import graft.operators.Renko
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeReference, AttributeSet, PredicateHelper, SortOrder, UnsafeArrayData, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** The renko batch scan as one logical node: the wide brick table
  * (`Renko.wideColumns`) of `child`, the normalized (symbol, t = epoch µs,
  * price) tick projection that `Renko.fromTicks` builds. The fold handles
  * each series on its own, so a predicate on the output `symbol` commutes
  * with the scan ([[RenkoSymbolPushdown]]). [[RenkoScanStrategy]] plans the
  * node as [[RenkoPackExec]], one exchange and sort of block rows, and
  * [[RenkoFoldExec]]. `blockCap` bounds the ticks per block.
  */
case class RenkoScanNode(
    brickSize: Double,
    dropFirst: Boolean,
    blockCap: Int,
    override val output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  // the scan reads its child wholesale: without this, ColumnPruning would
  // see no referenced attribute and prune the ticks away
  override def references: AttributeSet = child.outputSet

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def withNewChildInternal(newChild: LogicalPlan): RenkoScanNode =
    copy(child = newChild)
}

/** Moves the symbol-only conjuncts of a filter over [[RenkoScanNode]] onto
  * its ticks: `Filter(symbol = 'X', RenkoScan(ticks))` becomes
  * `RenkoScan(Filter(tickSymbol = 'X', ticks))`. The child's `symbol` is the
  * very value the scan writes out, so the rewrite is exact, and Catalyst or
  * the planner carries it on into the source scan. The series that pass
  * keep the bricks of the unfiltered scan; the ticks of the others are
  * never exchanged or folded. Other conjuncts stay above the scan.
  */
object RenkoSymbolPushdown extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, r: RenkoScanNode) =>
      val symbol = r.output.head
      val (pushable, rest) = splitConjunctivePredicates(cond)
        .partition(c => c.deterministic && c.references.subsetOf(AttributeSet(symbol)))
      if (pushable.isEmpty) f
      else {
        // the child's first column is the tick symbol
        val tickSymbol = r.child.output.head
        val onTicks = pushable.map(_.transform { case a: Attribute if a.semanticEquals(symbol) => tickSymbol })
        val pushed = r.copy(child = Filter(onTicks.reduce(And), r.child))
        rest.reduceOption(And).fold[LogicalPlan](pushed)(Filter(_, pushed))
      }
  }
}

/** Plans [[RenkoScanNode]] straight into [[RenkoFoldExec]] over
  * [[RenkoPackExec]]; `EnsureRequirements` puts the exchange and the sort
  * of block rows between them.
  */
object RenkoScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: RenkoScanNode =>
      RenkoFoldExec(r.brickSize, r.dropFirst, r.output, RenkoPackExec(r.blockCap, planLater(r.child))) :: Nil
    case _ => Nil
  }

  /** Installs this strategy and [[RenkoSymbolPushdown]] on `spark` once, so
    * a session built without `GraftExtensions` plans the node too. Such a
    * session plans it only after a `fromTicks` call of its own: one that
    * reads the node from elsewhere (a global temp view) needs the extensions.
    */
  def install(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(this)) exp.extraStrategies = this +: exp.extraStrategies
      if (!exp.extraOptimizations.contains(RenkoSymbolPushdown))
        exp.extraOptimizations = exp.extraOptimizations :+ RenkoSymbolPushdown
    }
  }
}

/** An operator whose `explain("formatted")` entry lists its SQL metrics. */
private[plans] trait MetricsInExplain extends UnaryExecNode {
  override def verboseStringWithOperatorId(): String =
    super.verboseStringWithOperatorId() + metrics.toSeq.sortBy(_._1).map { case (_, m) =>
      val v = math.max(m.value, 0L)
      s"${m.name.getOrElse("")}: " + (if (m.metricType == "nsTiming") f"${v / 1e6}%.1f ms" else v.toString)
    }.mkString("Metrics: ", ", ", "\n")
}

/** The map side of the renko scan, in parallel: packs each input
  * partition's (symbol, t, price) rows into per-series block rows
  * (symbol, part, seq, t[], price[]) of at most `blockCap` ticks, each
  * stably sorted by t. `part` is the input partition and `seq` the block's
  * place among its blocks, so (part, seq) is the input order of the
  * block's ticks. Blocks are written as `UnsafeRow`s straight from the
  * gathered ticks.
  */
case class RenkoPackExec(blockCap: Int, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode with MetricsInExplain {

  // pack time is the sort and write of the blocks; the per-tick gather is
  // not timed, as it interleaves with the child's own row loop
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "ticks" -> SQLMetrics.createMetric(sparkContext, "number of ticks"),
    "blocks" -> SQLMetrics.createMetric(sparkContext, "number of blocks"),
    "packTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "pack time"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (ticks, blocks, time) = (longMetric("ticks"), longMetric("blocks"), longMetric("packTime"))
    val cap = blockCap
    child.execute().mapPartitionsWithIndex { (part, rows) =>
      new BlockPacker(rows, part, cap, ticks, blocks, time)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RenkoPackExec = copy(child = newChild)
}

object RenkoPackExec {
  def apply(blockCap: Int, child: SparkPlan): RenkoPackExec = RenkoPackExec(blockCap, Seq(
    AttributeReference("symbol", StringType)(),
    AttributeReference("part", IntegerType, nullable = false)(),
    AttributeReference("seq", IntegerType, nullable = false)(),
    AttributeReference("t", ArrayType(LongType, containsNull = false), nullable = false)(),
    AttributeReference("price", ArrayType(DoubleType, containsNull = false), nullable = false)()), child)
}

/** The reduce side of the renko scan: block rows clustered by symbol and
  * sorted by (symbol, part, seq) in, which `EnsureRequirements` provides
  * with one hash exchange and a sort of the few block rows. Each series'
  * blocks are k-way merged by (t, part, seq), so a tie keeps input
  * partition order, then row order, into the one fold every batch scan
  * runs; bricks go out as `UnsafeRow`s of the wide table, `datetime` a
  * TIMESTAMP already.
  *
  * Memory: a task holds its partition's block rows in the sort's pages
  * and, while it merges a series, that series' ticks again as arrays, so
  * a series of n ticks needs about 32·n bytes of heap at once (16 bytes
  * per tick in each). One series of 14.7 M ticks retained 353-439 MB,
  * 24-30 bytes per tick, sampled with a forced GC every 200 ms
  * (`local[4]`, 4 GB heap). A series must fit one task's heap;
  * `Renko.fromTicksParallel` spreads one that does not.
  */
case class RenkoFoldExec(brickSize: Double, dropFirst: Boolean, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode with MetricsInExplain {

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(child.output.take(1)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(child.output.take(3).map(SortOrder(_, Ascending)))

  // merge + fold time leaves out reading the block rows (the exchange and
  // the sort under this operator)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of bricks"),
    "foldTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "merge + fold time"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (bricks, time) = (longMetric("numOutputRows"), longMetric("foldTime"))
    val (size, drop) = (brickSize, dropFirst)
    child.execute().mapPartitions(blocks => new BrickWriter(blocks, size, drop, bricks, time))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RenkoFoldExec = copy(child = newChild)
}

/** One series' ticks from one input partition, in row order, in chunks that
  * grow from 16 to `ChunkTicks` ticks: a long series is never copied or
  * held in one huge array while it grows.
  */
private final class SeriesTicks(val key: UTF8String) {
  private val ts = new ArrayBuffer[Array[Long]](4)
  private val ps = new ArrayBuffer[Array[Double]](4)
  /** Ticks held, and ticks in the last chunk. */
  var n, last = 0

  def add(t: Long, price: Double): Unit = {
    if (n == 0 || last == ts.last.length) {
      val size = math.min(SeriesTicks.ChunkTicks, math.max(16, n))
      ts += new Array[Long](size)
      ps += new Array[Double](size)
      last = 0
    }
    ts.last(last) = t
    ps.last(last) = price
    last += 1
    n += 1
  }

  /** The ticks, stably sorted by t, and then none held. */
  def drain(): (Array[Long], Array[Double]) = {
    val t = new Array[Long](n)
    val p = new Array[Double](n)
    var at = 0
    for (i <- ts.indices) {
      val len = if (i == ts.length - 1) last else ts(i).length
      System.arraycopy(ts(i), 0, t, at, len)
      System.arraycopy(ps(i), 0, p, at, len)
      at += len
    }
    ts.clear(); ps.clear(); n = 0; last = 0
    Renko.sortedByTime(t, p)
  }
}

private object SeriesTicks {
  /** 256 KB per array: below G1's humongous size for 1 MB regions. */
  val ChunkTicks: Int = 1 << 15
}

/** [[RenkoPackExec]]'s iterator: a series' block is written when it reaches
  * `cap` ticks, the rest of every series when the partition ends, in the
  * order the series first appeared. The output row is reused.
  */
private final class BlockPacker(
    in: Iterator[InternalRow],
    part: Int,
    cap: Int,
    ticks: SQLMetric,
    blocks: SQLMetric,
    time: SQLMetric) extends Iterator[InternalRow] {
  private val open = new java.util.LinkedHashMap[UTF8String, SeriesTicks]()
  private var key: UTF8String = null
  private var cur: SeriesTicks = null
  private var rest: java.util.Iterator[SeriesTicks] = null
  private var blockNo = 0
  private var ready = false
  // fixed part: null bits + 5 slots; grown to the largest block only
  private var w = new UnsafeRowWriter(5)

  override def hasNext: Boolean = {
    while (!ready && (rest == null || rest.hasNext)) {
      if (rest != null) {
        val s = rest.next()
        if (s.n > 0) write(s)
      } else if (in.hasNext) {
        val row = in.next()
        if (row.isNullAt(1) || row.isNullAt(2))
          throw new IllegalArgumentException("ticks need a non-null datetime and close")
        if (cur == null || !sameKey(row)) {
          val k = row.getUTF8String(0)
          // the row's buffer is reused: a new key is cloned before it is kept
          key = if (k == null) null else k.clone()
          cur = open.get(key)
          if (cur == null) { cur = new SeriesTicks(key); open.put(key, cur) }
        }
        cur.add(row.getLong(1), row.getDouble(2))
        if (cur.n == cap) write(cur)
      } else rest = open.values.iterator
    }
    ready
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    ready = false
    w.getRow
  }

  /** Whether `row`'s key is `key`. An `UnsafeRow`'s key is compared in
    * place, with no `UTF8String` built per tick.
    */
  private def sameKey(row: InternalRow): Boolean = row match {
    case u: UnsafeRow if !u.isNullAt(0) =>
      val offsetAndSize = u.getLong(0)
      val size = offsetAndSize.toInt
      key != null && size == key.numBytes && ByteArrayMethods.arrayEquals(
        u.getBaseObject, u.getBaseOffset + (offsetAndSize >> 32), key.getBaseObject, key.getBaseOffset, size)
    case _ => row.getUTF8String(0) == key
  }

  /** Writes `s` as the partition's next block row and empties it. */
  private def write(s: SeriesTicks): Unit = {
    val t0 = System.nanoTime()
    val n = s.n
    val arrayBytes = UnsafeArrayData.calculateHeaderPortionInBytes(n) + 8L * n
    val keyBytes = if (s.key == null) 0 else (s.key.numBytes + 7) / 8 * 8
    val needed = 48 + keyBytes + 2 * arrayBytes
    if (needed > Int.MaxValue - 64) throw new IllegalStateException(s"a block of $n ticks does not fit one row")
    if (w.getBuffer.length < needed) w = new UnsafeRowWriter(5, needed.toInt)
    w.reset()
    w.zeroOutNullBytes()
    if (s.key == null) w.setNullAt(0) else w.write(0, s.key)
    w.write(1, part)
    blockNo += 1
    w.write(2, blockNo)
    val (t, p) = s.drain()
    putArray(3, n, t, Platform.LONG_ARRAY_OFFSET)
    putArray(4, n, p, Platform.DOUBLE_ARRAY_OFFSET)
    ticks += n
    blocks += 1
    ready = true
    time += System.nanoTime() - t0
  }

  /** Writes `a`, an array of `n` 8-byte elements, as array field `ordinal`. */
  private def putArray(ordinal: Int, n: Int, a: AnyRef, srcOffset: Long): Unit = {
    val start = w.cursor()
    new UnsafeArrayWriter(w, 8).initialize(n)
    Platform.copyMemory(a, srcOffset, w.getBuffer, start + UnsafeArrayData.calculateHeaderPortionInBytes(n), 8L * n)
    w.setOffsetAndSizeFromPreviousCursor(ordinal, start)
  }
}

/** Block rows ordered by (symbol, part, seq) in, each series' ticks out in
  * (t, part, seq, row) order. It reads one series' blocks at a time into
  * primitive arrays (the child's rows are not kept: a sort's output row
  * points into pages it frees after its last row) and merges them with a
  * binary heap of block cursors. The iterator is its own element: `symbol`,
  * `t`, `price` and `seriesStart` describe the tick the last `next()`
  * reached. `readNs` is the time spent reading block rows, the child's
  * included.
  */
private final class BlockMerge(in: Iterator[InternalRow]) extends Iterator[BlockMerge] {
  var symbol: UTF8String = null
  var t = 0L
  var price = 0.0
  var seriesStart = false
  var readNs = 0L

  private val rows = in.buffered
  // the series' blocks, in (part, seq) order
  private val tBlocks = new ArrayBuffer[Array[Long]](8)
  private val pBlocks = new ArrayBuffer[Array[Double]](8)
  private var ts: Array[Array[Long]] = Array.empty
  private var ps: Array[Array[Double]] = Array.empty
  private var pos: Array[Int] = Array.emptyIntArray
  // heap of indices into the blocks
  private var heap: Array[Int] = Array.emptyIntArray
  private var live = 0

  override def hasNext: Boolean = live > 0 || {
    val t0 = System.nanoTime()
    val more = rows.hasNext
    readNs += System.nanoTime() - t0
    more
  }

  override def next(): BlockMerge = {
    seriesStart = live == 0
    if (seriesStart) {
      if (!rows.hasNext) throw new NoSuchElementException
      val t0 = System.nanoTime()
      val k = rows.head.getUTF8String(0)
      symbol = if (k == null) null else k.clone()
      tBlocks.clear()
      pBlocks.clear()
      // each row is read before the child moves on
      while (rows.hasNext && rows.head.getUTF8String(0) == symbol) {
        val r = rows.next()
        tBlocks += r.getArray(3).toLongArray()
        pBlocks += r.getArray(4).toDoubleArray()
      }
      ts = tBlocks.toArray
      ps = pBlocks.toArray
      live = ts.length
      pos = new Array[Int](live)
      heap = Array.range(0, live)
      for (i <- live / 2 - 1 to 0 by -1) siftDown(i)
      readNs += System.nanoTime() - t0
    }
    val b = heap(0)
    t = ts(b)(pos(b))
    price = ps(b)(pos(b))
    pos(b) += 1
    if (pos(b) == ts(b).length) {
      live -= 1
      heap(0) = heap(live)
    }
    siftDown(0)
    this
  }

  /** Block a's next tick comes before block b's. */
  private def before(a: Int, b: Int): Boolean = {
    val ta = ts(a)(pos(a))
    val tb = ts(b)(pos(b))
    ta < tb || (ta == tb && a < b)
  }

  private def siftDown(from: Int): Unit = {
    var i = from
    var done = false
    while (!done) {
      val l = 2 * i + 1
      if (l >= live) done = true
      else {
        val c = if (l + 1 < live && before(heap(l + 1), heap(l))) l + 1 else l
        if (before(heap(c), heap(i))) {
          val x = heap(i); heap(i) = heap(c); heap(c) = x
          i = c
        } else done = true
      }
    }
  }
}

/** [[RenkoFoldExec]]'s iterator: [[BlockMerge]] into `Renko`'s run fold, each
  * brick written as one wide row. The output row is reused.
  */
private final class BrickWriter(
    blocks: Iterator[InternalRow],
    brickSize: Double,
    dropFirst: Boolean,
    bricks: SQLMetric,
    time: SQLMetric) extends Iterator[InternalRow] {
  private val merge = new BlockMerge(blocks)
  private val fold = new Renko.RunFold[BlockMerge](merge, brickSize, dropFirst) {
    private val fresh = Renko.RunStart(null, null, 0L, None)
    protected def runStart(m: BlockMerge): Renko.RunStart = if (m.seriesStart) fresh else null
    protected def ts(m: BlockMerge): Long = m.t
    protected def price(m: BlockMerge): Double = m.price
  }
  private val w = new UnsafeRowWriter(20, 32)

  override def hasNext: Boolean = {
    val (t0, read0) = (System.nanoTime(), merge.readNs)
    val more = fold.hasNext
    time += System.nanoTime() - t0 - (merge.readNs - read0)
    more
  }

  override def next(): InternalRow = {
    val b = fold.next()
    bricks += 1
    w.reset()
    w.zeroOutNullBytes()
    // the fold has not moved past the tick that emitted b
    if (merge.symbol == null) w.setNullAt(0) else w.write(0, merge.symbol)
    w.write(1, b.ts)
    w.write(2, b.open)
    w.write(3, b.high)
    w.write(4, b.low)
    w.write(5, b.close)
    w.write(6, b.volume)
    w.write(7, b.direction)
    w.write(8, b.isReversal)
    w.write(9, b.tickIndexOpen)
    w.write(10, b.tickIndexClose)
    w.write(11, b.normalHigh)
    w.write(12, b.normalLow)
    w.write(13, b.nongapOpen)
    w.write(14, b.reverseNongapOpen)
    w.write(15, b.reverseFakeNongapOpen)
    w.write(16, b.reverseHigh)
    w.write(17, b.reverseLow)
    w.write(18, b.fakeHigh)
    w.write(19, b.fakeLow)
    w.getRow
  }
}
