package graft.operators

import graft.core.{Brick, RenkoEngine, RenkoSnapshot}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{CatalystSerde, MapPartitions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

/** One input tick, normalized: per-series key, epoch-µs time, price. */
final case class Tick(symbol: String, t: Long, price: Double)

/** One series' ticks from one input partition, sorted by `t` (stable:
  * ties keep their row order). `part` is the input partition and `seq`
  * the block's place among that partition's blocks, so (part, seq) is the
  * input order of the block's ticks.
  */
private[graft] final case class TickBlock(symbol: String, part: Int, seq: Int, t: Array[Long], price: Array[Double])

/** One output brick row: series key + the 19-column wide record
  * (reference `renkodf.py:60-67`). `datetime_us` is epoch µs; the public
  * DataFrame surface converts it to a proper TIMESTAMP column.
  */
final case class BrickRow(
    symbol: String,
    datetime_us: Long,
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Long,
    direction: Int,
    is_reversal: Int,
    tick_index_open: Long,
    tick_index_close: Long,
    normal_high: Double,
    normal_low: Double,
    nongap_open: Double,
    reverse_nongap_open: Double,
    reverse_fake_nongap_open: Double,
    reverse_high: Double,
    reverse_low: Double,
    fake_high: Double,
    fake_low: Double)

/** Batch renko: ordered stateful scan over tick series → wide brick table.
  *
  * Spark-first design: the scan is inherently sequential *within* a series
  * (the fold is not associative, so no partial/final split exists), but
  * embarrassingly parallel *across* series. `fromTicks` therefore packs
  * each input partition's ticks, in parallel, into per-series blocks of
  * primitive arrays sorted by time, shuffles those few block rows once on
  * the series key, and k-way merges each series' blocks into the fold — no
  * global sort and no per-tick sort after the scan; at cluster scale
  * parallelism = number of series. A series too large for one task goes
  * through the sync-point stitch of `fromTicksParallel` instead. Column
  * pruning to exactly (symbol, datetime, close) happens *before* the
  * block pack because Catalyst cannot push a projection through
  * `mapPartitions`.
  *
  * Capability match: reference `Renko.__init__`/`_create_renko`
  * (`/root/reference/src/renkodf/renkodf.py:16-252`), generalized from one
  * hard-coded series to N keyed series. Unlike the reference there is no
  * pre-allocated capacity (`divide_by`, `renkodf.py:75`) — bricks stream out
  * of an iterator, so large gaps cannot overflow (deliberate deviation from
  * a reference limitation, not a semantics change).
  */
object Renko {

  implicit private val tickEnc: Encoder[Tick] = Encoders.product[Tick]
  implicit private val brickEnc: Encoder[BrickRow] = Encoders.product[BrickRow]
  implicit private val blockEnc: Encoder[TickBlock] = Encoders.product[TickBlock]

  /** Columns of the wide brick table, in reference order (renkodf.py:60-67),
    * with the series key prepended.
    */
  val wideColumns: Seq[String] = Seq(
    "symbol", "datetime", "open", "high", "low", "close", "volume",
    "direction", "is_reversal", "tick_index_open", "tick_index_close",
    "normal_high", "normal_low", "nongap_open",
    "reverse_nongap_open", "reverse_fake_nongap_open",
    "reverse_high", "reverse_low", "fake_high", "fake_low")

  /** Build the wide brick table from a tick DataFrame.
    *
    * @param df          input ticks; needs `closeCol` and `datetimeCol`
    *                    (TIMESTAMP, or integer epoch interpreted per
    *                    `tsUnit`); extra columns are pruned
    * @param brickSize   brick height, > 0
    * @param symbolCol   optional series-key column; None = single series
    *                    (the reference's shape)
    * @param tsUnit      unit of an integer datetime column: D|s|ms|us|ns
    * @param dropFirst   reference drops every brick sharing the first
    *                    emitted timestamp (renkodf.py:69); disable to keep
    *                    them
    */
  def fromTicks(
      df: DataFrame,
      brickSize: Double,
      symbolCol: Option[String] = None,
      datetimeCol: String = "datetime",
      closeCol: String = "close",
      tsUnit: String = "us",
      dropFirst: Boolean = true,
      divideBy: Int = 2): DataFrame = {
    // validation-surface parity with the reference (renkodf.py:44-45):
    // divide_by is the reference's numpy pre-allocation chunking hint
    // (capacity only, never semantics — renkodf.py:36-39); Spark sizes its
    // own buffers, so the value is validated with the reference's message
    // and otherwise ignored. Kept so reference code ports without edits.
    require(divideBy > 0, "divide_by cannot be 'None' or '<= 0'")
    blockScan(normalizedTicks(df, brickSize, symbolCol, datetimeCol, closeCol, tsUnit), brickSize, dropFirst)
  }

  /** Ticks per [[TickBlock]]: a partition holding more of one series emits
    * several blocks, each sorted on its own.
    */
  private val BlockCap = 1 << 20

  /** The plan behind [[fromTicks]], over (symbol, t, price) rows:
    *
    *  1. map side, in parallel: each input partition packs its ticks into
    *     per-series [[TickBlock]]s of at most `blockCap` ticks, each stably
    *     sorted by t (pre-sorted input costs one pass);
    *  2. one hash exchange of the block rows on the series key, and a sort
    *     of those few rows by (symbol, part, seq);
    *  3. reduce side: each series' blocks are k-way merged by (t, part,
    *     seq) — a tie keeps input partition order, then row order — into
    *     [[RunFold]].
    *
    * No tick row is exchanged, sorted or decoded into a `Tick`.
    */
  private[graft] def blockScan(
      ticks: DataFrame,
      brickSize: Double,
      dropFirst: Boolean,
      blockCap: Int = BlockCap): DataFrame = {
    // the pack reads Spark's internal rows: the tick columns go in as one
    // struct, so `symbol` stays UTF-8 and no typed decoder runs per tick
    val packed = MapPartitions(
      (it: Iterator[Any]) => new BlockPacker(it.asInstanceOf[Iterator[InternalRow]], blockCap),
      CatalystSerde.generateObjAttr[TickBlock],
      ticks.select(struct(col("symbol"), col("t"), col("price"))).queryExecution.analyzed)
    val bricks: Dataset[BrickRow] =
      GraftSqlShim.ofRows(ticks.sparkSession, CatalystSerde.serialize[TickBlock](packed))
        .repartition(col("symbol"))
        .sortWithinPartitions(col("symbol"), col("part"), col("seq"))
        .as[TickBlock]
        .mapPartitions { blocks =>
          new RunFold[BlockMerge](new BlockMerge(blocks), brickSize, dropFirst) {
            protected def runStart(m: BlockMerge): RunStart =
              if (m.seriesStart) RunStart(m.symbol, null, 0L, None) else null
            protected def ts(m: BlockMerge): Long = m.t
            protected def price(m: BlockMerge): Double = m.price
          }
        }
    widen(bricks.toDF())
  }

  /** Zero-shuffle fast path for pre-ordered input (the reference assumes
    * time-ordered ticks too, SURVEY §2.3): no exchange, no sort — each
    * partition is scanned directly, with consecutive runs of the same series
    * key treated as independent series.
    *
    * Contract: rows are time-ordered within each partition and every series
    * is contiguous within one partition. Single series: pass the data through
    * `coalesce(1)` (order-preserving) or store it as one sorted file. At
    * cluster scale this is the bucketed-table path — tick tables bucketed by
    * symbol and sorted by time renko-scan with NO shuffle at all.
    */
  def fromSortedTicks(
      df: DataFrame,
      brickSize: Double,
      symbolCol: Option[String] = None,
      datetimeCol: String = "datetime",
      closeCol: String = "close",
      tsUnit: String = "us",
      dropFirst: Boolean = true): DataFrame = {
    val ticks = normalizedTicks(df, brickSize, symbolCol, datetimeCol, closeCol, tsUnit).as[Tick]
    widen(ticks.mapPartitions(it => scanPartition(it, brickSize, dropFirst)).toDF())
  }

  /** Parallel scan for series too large for `fromTicks`'s one task per
    * series — one giant series, or a few simultaneously huge ones. The ticks
    * are range-partitioned on (symbol, t) (on t alone for a single series)
    * and sorted in parallel, so one series spreads over many partitions;
    * [[stitch]] then chains each series' exact entry state across its runs
    * and folds every run from its entry in parallel.
    *
    * For MANY small series `fromTicks` is already parallel and cheaper:
    * the driver's stitch work is O(runs · syncDepth), and runs grow with
    * the symbol count.
    *
    * Output is bit-identical to `fromTicks` with the same `symbolCol`
    * (ParallelScanSpec); if some run never synchronizes within its prefix
    * (pathologically flat prices), the method falls back to `fromTicks`.
    */
  def fromTicksParallel(
      df: DataFrame,
      brickSize: Double,
      datetimeCol: String = "datetime",
      closeCol: String = "close",
      tsUnit: String = "us",
      dropFirst: Boolean = true,
      numPartitions: Int = 0,
      symbolCol: Option[String] = None): DataFrame =
    parallelScan(df, brickSize, datetimeCol, closeCol, tsUnit, dropFirst,
      numPartitions, symbolCol = symbolCol)._1

  /** [[fromTicksParallel]] (or, `presorted`, [[fromSortedTicksParallel]])
    * together with the stitch's [[ParallelScanStats]]. `prefixCap` bounds
    * the ticks per run that job 1 keeps for the driver's sync search.
    */
  private[graft] def parallelScan(
      df: DataFrame,
      brickSize: Double,
      datetimeCol: String = "datetime",
      closeCol: String = "close",
      tsUnit: String = "us",
      dropFirst: Boolean = true,
      numPartitions: Int = 0,
      prefixCap: Int = 4096,
      symbolCol: Option[String] = None,
      presorted: Boolean = false): (DataFrame, ParallelScanStats) = {
    val ticks = normalizedTicks(df, brickSize, symbolCol, datetimeCol, closeCol, tsUnit)
    val p = if (numPartitions > 0) numPartitions else df.sparkSession.sparkContext.defaultParallelism
    // a single series orders by t alone and keeps its constant key out of
    // the shuffle, the sort and the cache: [[stitch]] supplies it
    val (layout, order) =
      if (symbolCol.isDefined) (ticks, Seq(col("symbol"), col("t")))
      else (ticks.drop("symbol"), Seq(col("t")))
    // a presorted source's own partitions are the ranges: no exchange, no sort
    stitch(if (presorted) layout else layout.repartitionByRange(p, order: _*).sortWithinPartitions(order: _*),
      brickSize, dropFirst, prefixCap,
      fromTicks(df, brickSize, symbolCol, datetimeCol, closeCol, tsUnit, dropFirst))
  }

  /** PARALLEL zero-shuffle scan for pre-sorted single-series input: the
    * existing partitions ARE the ranges (contract: ascending time within
    * each partition AND across partition index — a sorted file read or
    * `spark.range`-shaped source), so [[stitch]] applies with NO exchange
    * and NO sort at all. This is the sorted-tick-table path at cluster
    * scale — [[fromSortedTicks]] stays the per-partition-independent-series
    * form (bucketed multi-series tables); THIS is its single-giant-series
    * twin. Output is bit-identical to `fromTicks` (ParallelScanSpec).
    *
    * The sorted contract is VALIDATED, not trusted (see [[stitch]]): unsorted
    * input costs one wasted summary pass, never a wrong answer.
    */
  def fromSortedTicksParallel(
      df: DataFrame,
      brickSize: Double,
      datetimeCol: String = "datetime",
      closeCol: String = "close",
      tsUnit: String = "us",
      dropFirst: Boolean = true): DataFrame =
    parallelScan(df, brickSize, datetimeCol, closeCol, tsUnit, dropFirst, presorted = true)._1

  /** Phase timings from the most recent parallel scans, drained by Bench to
    * embed in its emitted JSON: the bench ARTIFACT must carry the evidence
    * that distinguishes a genuinely slow phase from host contention (r5
    * lesson: a 16.5 s artifact rep vs a 2 s re-run was adjudicable only by a
    * manual re-run). Driver-side, tiny (a few entries per scan call).
    */
  private val phaseLog = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
  private val phaseLogSize = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Entries beyond this are dropped oldest-first: the bench drains per
    * rep, but a long-running production STREAM also logs phases per epoch
    * (the curate/admission sync points) with nobody draining — the queue
    * must stay bounded over an unbounded stream lifetime.
    */
  private val PhaseLogCap = 8192
  /** Bench-visible phase entry from OUTSIDE the scan (e.g. the concurrent
    * serving bench's per-query latency percentiles) — same drain channel,
    * so the numbers land in the artifact's per-rep diag.
    */
  private[graft] def logPhase(phase: String, sec: Double): Unit = {
    phaseLog.add(phase -> sec)
    if (phaseLogSize.incrementAndGet() > PhaseLogCap) {
      if (phaseLog.poll() != null) phaseLogSize.decrementAndGet()
    }
  }

  /** Cumulative JVM GC time (ms) across all collectors — deltas around a
    * phase attribute stall time to garbage collection in the diag.
    */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private[graft] def drainPhaseLog(): Seq[(String, Double)] = {
    val b = Seq.newBuilder[(String, Double)]
    var x = phaseLog.poll()
    while (x != null) { b += x; phaseLogSize.decrementAndGet(); x = phaseLog.poll() }
    b.result()
  }

  /** Diagnostics from the parallel scan's driver phase: whether the scan
    * fell back to sequential, and how deep into each run's prefix the
    * sync-point search had to replay (Long.MaxValue = short run fully
    * replayed on the driver). The depth distribution is the empirical answer
    * to "does the synchronization argument hold on THIS data" — bounded
    * depths mean the driver work stays O(runs · depth) at any scale.
    */
  final case class ParallelScanStats(fellBack: Boolean, syncDepths: Seq[Long])

  /** Where the fold of one run starts: `entry` is the exact state before
    * the run's first tick (null = a symbol's first run, which anchors on
    * that tick), `offset` the symbol's ticks in earlier runs, and `firstTs`
    * the symbol's first emitted timestamp when an earlier run emitted it
    * (None = the run learns it from its own first brick).
    */
  private final case class RunStart(sym: String, entry: RenkoSnapshot, offset: Long, firstTs: Option[Long])

  /** First-pass summary of one contiguous same-symbol run of a partition,
    * from the run's own replay off a fresh anchor. Prefix arrays, snapshots
    * and indices are run-local.
    */
  private final case class RunSummary(
      pidx: Int,
      symbol: String,
      nTicks: Long,
      prefixTs: Array[Long],
      prefixPrice: Array[Double],
      // own-replay snapshot AFTER each prefix tick; null slot = that tick
      // emitted nothing under the own replay
      prefixEmitSnap: Array[RenkoSnapshot],
      exit: RenkoSnapshot,
      // sorted-contract evidence, captured for free during the scan
      firstTs: Long,
      lastTs: Long,
      sorted: Boolean)

  /** The sync-point stitch behind every parallel entry point. Renko's fold
    * is not associative, but it SYNCHRONIZES: when a tick emits a brick, the
    * post-tick state is fully determined by that tick and the emission
    * (`volume = 1`, `tickOpen = tickClose = i`, wick reset to the brick
    * boundary, `lastRenko`/`direction` from the brick) — the entry state
    * only influences a short prefix. So:
    *
    *  1. job 1: each same-symbol run of each partition replays its own ticks
    *     from a fresh anchor and reports a [[RunSummary]] — tiny, bricks are
    *     not materialized;
    *  2. the driver chains each symbol's exact entry states across its runs:
    *     it replays only each run's prefix from the run's entry until the
    *     true trajectory and the own replay both emit at the same tick with
    *     identical state (the sync point, typically a handful of ticks),
    *     after which the own replay's exit state is the true one. The same
    *     replay sees the symbol's first emitted timestamp: a run's first true
    *     emission is at or before its sync tick;
    *  3. job 2: each run restores its entry state (or anchors fresh, for a
    *     symbol's first run) and runs [[RunFold]], the fold `scanPartition`
    *     runs, over all of its ticks in parallel.
    *
    * `layout` holds (symbol, t, price) rows — without `symbol` for a single
    * series, whose key is the constant "" — and must place each symbol's
    * ticks in runs that are internally nondecreasing in t and do not overlap
    * in time in partition order. The range partition + sort of
    * [[parallelScan]] satisfies this by construction; a pre-sorted source is
    * checked against job 1's evidence, and any violation — or a run that
    * never synchronizes within its prefix — returns `fallback`, the
    * sequential plan, instead of stitching wrong bricks.
    */
  private def stitch(
      layout: DataFrame,
      brickSize: Double,
      dropFirst: Boolean,
      prefixCap: Int,
      fallback: => DataFrame): (DataFrame, ParallelScanStats) = {
    val spark = layout.sparkSession
    // phase timing into the drainable phase log (Bench embeds it in its
    // JSON, so a contention-polluted rep is self-diagnosing): the scan is
    // several Spark jobs and a driver phase, and a slow run is diagnosable
    // only if we can see WHICH phase absorbed the time
    var tMark = System.nanoTime()
    def mark(phase: String): Unit = {
      val now = System.nanoTime()
      logPhase(phase, (now - tMark) / 1e9)
      tMark = now
    }

    // persist pins the layout (job 2 MUST see the exact partitioning and
    // intra-partition order job 1 summarized; MEMORY_AND_DISK spills rather
    // than evicting, so partitions are never recomputed with reordered sort
    // ties) and stores COLUMNAR compressed batches — a localCheckpoint would
    // hold the rows as 100M+ deserialized objects (measured 2x slower
    // end-to-end at 100M ticks from GC churn alone). Every exit unpersists
    // it; the success path first materializes the bricks, so the returned
    // plan no longer references the ticks.
    val pinned = layout.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // internal rows, not a typed decode: the run key is compared per tick
      // in its UTF-8 form and decoded to a String once per run
      val keyCol = if (pinned.columns.contains("symbol")) col("symbol") else lit("")
      val rows = pinned.select(keyCol, col("t"), col("price")).queryExecution.toRdd

      // job 1: per partition, per same-symbol run: own replay from a fresh
      // anchor → (prefix ticks, per-tick emission snapshots, exit state)
      val summaries = rows.mapPartitionsWithIndex { (pidx, it) =>
        val runs = new ArrayBuffer[RunSummary](4)
        val pts = new ArrayBuffer[Long](64)
        val pps = new ArrayBuffer[Double](64)
        val snaps = new ArrayBuffer[RenkoSnapshot](64)
        val buf = new ArrayBuffer[Brick](4)
        var eng: RenkoEngine = null
        var key: UTF8String = null
        var n, firstTs, lastTs = 0L
        var sorted = true
        def closeRun(): Unit = if (eng != null) runs += RunSummary(pidx, keyString(key), n,
          pts.toArray, pps.toArray, snaps.toArray, eng.snapshot, firstTs, lastTs, sorted)
        while (it.hasNext) {
          val row = it.next()
          if (row.isNullAt(1) || row.isNullAt(2))
            throw new IllegalArgumentException("ticks need a non-null datetime and close")
          val ts = row.getLong(1)
          val price = row.getDouble(2)
          val k = row.getUTF8String(0)
          val emitted = if (eng == null || k != key) {
            closeRun()
            key = if (k == null) null else k.clone()
            eng = new RenkoEngine(brickSize)
            eng.initAnchor(price)
            n = 0L; firstTs = ts; lastTs = ts; sorted = true
            pts.clear(); pps.clear(); snaps.clear()
            0
          } else {
            if (ts < lastTs) sorted = false
            lastTs = ts
            buf.clear()
            eng.step(ts, price, n, buf)
          }
          if (n < prefixCap) {
            pts += ts; pps += price
            snaps += (if (emitted > 0) eng.snapshot else null)
          }
          n += 1
        }
        closeRun()
        runs.iterator
      }.collect()
      mark("job1 sort+summar")

      // driver: a symbol's runs arrive in partition order. Check the layout
      // contract, then chain exact entry states and find the sync points
      val runsBySym = summaries.groupBy(_.symbol)
      var fellBack = !runsBySym.values.forall { runs =>
        runs.forall(_.sorted) && runs.zip(runs.drop(1)).forall { case (a, b) => a.lastTs <= b.firstTs }
      }
      val starts = new scala.collection.mutable.HashMap[(Int, String), RunStart]()
      val syncDepths = new ArrayBuffer[Long]()
      for (sym <- summaries.map(_.symbol).distinct if !fellBack) {
        var offset = 0L
        var entry: RenkoSnapshot = null
        var firstTs: Option[Long] = None
        for (s <- runsBySym(sym) if !fellBack) {
          starts((s.pidx, sym)) = RunStart(sym, entry, offset, firstTs)
          val eng = new RenkoEngine(brickSize)
          if (entry != null) eng.restore(entry)
          val buf = new ArrayBuffer[Brick](4)
          var j = 0
          var sync = -1
          while (sync < 0 && j < s.prefixTs.length) {
            if (j == 0 && entry == null) eng.initAnchor(s.prefixPrice(0))
            else {
              buf.clear()
              val emitted = eng.step(s.prefixTs(j), s.prefixPrice(j), offset + j, buf)
              if (emitted > 0 && firstTs.isEmpty) firstTs = Some(buf(0).ts)
              val own = s.prefixEmitSnap(j)
              // emission at j sets tickOpen = tickClose = j in both index
              // bases, which differ by `offset`
              if (emitted > 0 && own != null && eng.snapshot == shifted(own, offset)) sync = j
            }
            j += 1
          }
          if (sync >= 0) {
            syncDepths += sync
            entry = shifted(s.exit, offset)
          } else if (s.nTicks <= s.prefixTs.length) {
            // short run: the driver replayed it fully, its exit is exact
            syncDepths += Long.MaxValue
            entry = eng.snapshot
          } else fellBack = true // prefix exhausted without sync
          offset += s.nTicks
        }
      }
      mark("driver stitch")
      if (fellBack) return (fallback, ParallelScanStats(fellBack = true, syncDepths.toSeq))

      // job 2: per partition, per run: fold all of the run's ticks from its
      // start, with symbol-global indices
      val bcStarts = spark.sparkContext.broadcast(starts.toMap)
      // spill/GC evidence for a slow job 2: the pinned ticks' cache
      // residency before it runs (a nonzero disk share means the persist
      // spilled and the fold re-reads disk blocks) and the JVM GC time it
      // absorbs — both ride the phase log into the bench's diag
      locally {
        val infos = spark.sparkContext.getRDDStorageInfo
        logPhase("cacheMemMB", infos.map(_.memSize).sum / 1e6)
        logPhase("cacheDiskMB", infos.map(_.diskSize).sum / 1e6)
      }
      val gcBeforeJob2 = gcMillis()
      val bricks = rows.mapPartitionsWithIndex { (pidx, it) =>
        val runStarts = bcStarts.value
        new RunFold[InternalRow](it, brickSize, dropFirst) {
          private var key: UTF8String = null
          protected def runStart(row: InternalRow): RunStart = {
            val k = row.getUTF8String(0)
            if (run != null && k == key) null
            else { key = if (k == null) null else k.clone(); runStarts((pidx, keyString(key))) }
          }
          protected def ts(row: InternalRow): Long = row.getLong(1)
          protected def price(row: InternalRow): Double = row.getDouble(2)
        }
      }
      // eagerly materialize the bricks (orders of magnitude smaller than the
      // ticks): the returned plan then no longer references the ticks at
      // all, which is what makes the unpersist on exit safe. The brick
      // blocks themselves are RDD-level (localCheckpoint), freed by the
      // ContextCleaner once the caller drops the result. StallDiag adds a
      // per-task histogram, the driver-gap split (taskMax/launchGap/postGap)
      // and a stall watchdog around job 2.
      val result = graft.util.StallDiag.watch(spark, "job2", logPhase) {
        widen(spark.createDataFrame(bricks)).localCheckpoint(true)
      }
      logPhase("job2GcSec", (gcMillis() - gcBeforeJob2) / 1e3)
      mark("job2 suffix+ckpt")
      (result, ParallelScanStats(fellBack = false, syncDepths.toSeq))
    } finally pinned.unpersist(blocking = true)
  }

  /** A snapshot with its tick indices moved `offset` ticks later. */
  private def shifted(s: RenkoSnapshot, offset: Long): RenkoSnapshot =
    s.copy(tickOpen = s.tickOpen + offset, tickClose = s.tickClose + offset)

  private def keyString(k: UTF8String): String = if (k == null) null else k.toString

  /** The one per-run fold behind every batch scan: splits an ordered
    * partition into consecutive same-symbol runs and folds each lazily, in
    * one flat iterator (no per-series iterator nesting). A run starts as its
    * [[RunStart]] says — a fresh anchor on its first tick or a restored
    * entry state — and indexes its ticks from `offset`. Implements the
    * reference's drop-first-label epilogue (renkodf.py:69) per symbol:
    * *every* brick carrying the symbol's first emitted timestamp is dropped
    * — with a multi-brick first gap this can legally produce an empty
    * series.
    */
  private abstract class RunFold[R](in: Iterator[R], brickSize: Double, dropFirst: Boolean)
      extends Iterator[BrickRow] {
    /** The start of the run `r` opens, or null when `r` continues `run`. */
    protected def runStart(r: R): RunStart
    protected def ts(r: R): Long
    protected def price(r: R): Double

    /** The run being folded; null before the first tick. */
    protected var run: RunStart = null
    private val buf = new ArrayBuffer[Brick](8)
    private var pos = 0
    private var eng: RenkoEngine = null
    private var i = 0L
    private var firstTs = 0L
    private var haveFirst = false

    override def hasNext: Boolean = {
      while (pos >= buf.length) {
        if (!in.hasNext) return false
        val r = in.next()
        val start = runStart(r)
        if (start != null) {
          run = start
          eng = new RenkoEngine(brickSize)
          if (start.entry != null) eng.restore(start.entry)
          i = start.offset
          haveFirst = start.firstTs.isDefined
          firstTs = start.firstTs.getOrElse(0L)
        }
        // a symbol's first tick only sets the anchor
        if (!eng.isStarted) eng.initAnchor(price(r))
        else {
          buf.clear(); pos = 0
          if (eng.step(ts(r), price(r), i, buf) > 0) {
            if (!haveFirst) { firstTs = buf(0).ts; haveFirst = true }
            // reference drop-first-label rule (renkodf.py:69)
            if (dropFirst) buf.filterInPlace(_.ts != firstTs)
          }
        }
        i += 1
      }
      true
    }
    override def next(): BrickRow = {
      if (!hasNext) throw new NoSuchElementException
      val b = buf(pos); pos += 1
      toRow(run.sym, b)
    }
  }

  /** Scan one pre-ordered partition: each consecutive same-symbol run is an
    * independent series folded by [[RunFold]] from a fresh anchor.
    */
  private[graft] def scanPartition(
      it: Iterator[Tick],
      brickSize: Double,
      dropFirst: Boolean): Iterator[BrickRow] =
    new RunFold[Tick](it, brickSize, dropFirst) {
      protected def runStart(t: Tick): RunStart =
        if (run != null && t.symbol == run.sym) null else RunStart(t.symbol, null, 0L, None)
      protected def ts(t: Tick): Long = t.t
      protected def price(t: Tick): Double = t.price
    }

  /** The map side of [[blockScan]]: packs one input partition's
    * struct(symbol, t, price) rows into per-series [[TickBlock]]s, emitting
    * a series' block when it reaches `cap` ticks and the rest when the
    * partition ends.
    */
  private final class BlockPacker(in: Iterator[InternalRow], cap: Int) extends Iterator[TickBlock] {
    // starts small: a partition may hold many short series
    private final class Builder {
      var t = new Array[Long](16)
      var price = new Array[Double](16)
      var n = 0
    }
    private val part = TaskContext.getPartitionId()
    private var emitted = 0
    // insertion order keeps the end-of-partition flush deterministic
    private val open = new java.util.LinkedHashMap[UTF8String, Builder]()
    private var key: UTF8String = null
    private var cur: Builder = null
    private var ready: TickBlock = null
    private var rest: java.util.Iterator[java.util.Map.Entry[UTF8String, Builder]] = null

    override def hasNext: Boolean = {
      while (ready == null && (rest == null || rest.hasNext)) {
        if (rest != null) {
          val e = rest.next()
          ready = block(e.getKey, e.getValue)
        } else if (in.hasNext) {
          // MapPartitionsExec hands over the struct column's value
          val tick = in.next()
          if (tick.isNullAt(1) || tick.isNullAt(2))
            throw new IllegalArgumentException("ticks need a non-null datetime and close")
          val k = tick.getUTF8String(0)
          // the row's buffer is reused: a new key is cloned before it is kept
          if (cur == null || k != key) {
            key = if (k == null) null else k.clone()
            cur = open.get(key)
            if (cur == null) { cur = new Builder; open.put(key, cur) }
          }
          if (cur.n == cur.t.length) {
            val size = math.min(cap, cur.n * 2)
            cur.t = java.util.Arrays.copyOf(cur.t, size)
            cur.price = java.util.Arrays.copyOf(cur.price, size)
          }
          cur.t(cur.n) = tick.getLong(1)
          cur.price(cur.n) = tick.getDouble(2)
          cur.n += 1
          if (cur.n == cap) {
            ready = block(key, cur)
            cur.n = 0
          }
        } else rest = open.entrySet.iterator
      }
      ready != null
    }

    override def next(): TickBlock = {
      if (!hasNext) throw new NoSuchElementException
      val b = ready
      ready = null
      b
    }

    /** The builder's ticks as the partition's next block; null if none. */
    private def block(k: UTF8String, b: Builder): TickBlock =
      if (b.n == 0) null
      else {
        val (t, price) = sortedByTime(b.t, b.price, b.n)
        emitted += 1
        TickBlock(keyString(k), part, emitted, t, price)
      }
  }

  /** The first `n` ticks of (t, price), stably sorted by t: a bottom-up
    * merge of the natural ascending runs, so sorted input is one pass plus
    * a copy and a tie keeps its row order.
    */
  private[graft] def sortedByTime(t: Array[Long], price: Array[Double], n: Int): (Array[Long], Array[Double]) = {
    var st = java.util.Arrays.copyOf(t, n)
    var sp = java.util.Arrays.copyOf(price, n)
    // run starts, then n
    val starts = new ArrayBuilder.ofInt
    starts += 0
    for (i <- 1 until n) if (st(i) < st(i - 1)) starts += i
    starts += n
    var bounds = starts.result()
    if (bounds.length > 2) {
      var dt = new Array[Long](n)
      var dp = new Array[Double](n)
      while (bounds.length > 2) {
        val merged = new ArrayBuilder.ofInt
        merged += 0
        var r = 0
        while (r + 1 < bounds.length) {
          val lo = bounds(r)
          val mid = bounds(r + 1)
          val hi = if (r + 2 < bounds.length) bounds(r + 2) else mid
          var i = lo
          var j = mid
          var k = lo
          while (k < hi) {
            // the left run wins a tie: stable
            if (j >= hi || (i < mid && st(i) <= st(j))) { dt(k) = st(i); dp(k) = sp(i); i += 1 }
            else { dt(k) = st(j); dp(k) = sp(j); j += 1 }
            k += 1
          }
          merged += hi
          r += 2
        }
        val (ot, op) = (st, sp)
        st = dt; sp = dp; dt = ot; dp = op
        bounds = merged.result()
      }
    }
    (st, sp)
  }

  /** The reduce side of [[blockScan]]: [[TickBlock]]s ordered by (symbol,
    * part, seq) in, each series' ticks out in (t, part, seq, row) order.
    * It holds one series' blocks at a time and merges them with a binary
    * heap of block cursors. The iterator is its own element: `symbol`, `t`,
    * `price` and `seriesStart` describe the tick the last `next()` reached.
    */
  private final class BlockMerge(in: Iterator[TickBlock]) extends Iterator[BlockMerge] {
    var symbol: String = null
    var t = 0L
    var price = 0.0
    var seriesStart = false

    private val blocks = in.buffered
    private val series = new ArrayBuffer[TickBlock](8)
    private var pos: Array[Int] = Array.emptyIntArray
    // heap of indices into `series`, which is in (part, seq) order
    private var heap: Array[Int] = Array.emptyIntArray
    private var live = 0

    override def hasNext: Boolean = live > 0 || blocks.hasNext

    override def next(): BlockMerge = {
      seriesStart = live == 0
      if (seriesStart) {
        if (!blocks.hasNext) throw new NoSuchElementException
        series.clear()
        symbol = blocks.head.symbol
        while (blocks.hasNext && blocks.head.symbol == symbol) series += blocks.next()
        live = series.length
        pos = new Array[Int](live)
        heap = Array.range(0, live)
        for (i <- live / 2 - 1 to 0 by -1) siftDown(i)
      }
      val b = heap(0)
      val blk = series(b)
      t = blk.t(pos(b))
      price = blk.price(pos(b))
      pos(b) += 1
      if (pos(b) == blk.t.length) {
        live -= 1
        heap(0) = heap(live)
      }
      siftDown(0)
      this
    }

    /** Block a's next tick comes before block b's. */
    private def before(a: Int, b: Int): Boolean = {
      val ta = series(a).t(pos(a))
      val tb = series(b).t(pos(b))
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

  /** The reference's argument checks (renkodf.py) and the one input shape
    * every entry point scans: (symbol, t = epoch µs, price), with the
    * constant key "" for a single series. Extra columns are pruned here,
    * before any typed operator Catalyst cannot push a projection through.
    */
  private def normalizedTicks(
      df: DataFrame,
      brickSize: Double,
      symbolCol: Option[String],
      datetimeCol: String,
      closeCol: String,
      tsUnit: String): DataFrame = {
    require(brickSize > 0, "brick_size cannot be 'None' or '<= 0'")
    require(df.columns.contains(closeCol), s"Column '$closeCol' doesn't exist!")
    require(df.columns.contains(datetimeCol), s"Column '$datetimeCol' doesn't exist!")
    df.select(
      symbolCol.map(c => col(c).cast(StringType)).getOrElse(lit("")).as("symbol"),
      toEpochMicros(df.schema(datetimeCol).dataType, col(datetimeCol), tsUnit).as("t"),
      col(closeCol).cast(DoubleType).as("price"))
  }

  /** Epoch-µs conversion for the supported datetime representations. The
    * reference's `ts_unit ∈ {D, s, ms, us, ns}` (renkodf.py:454-455) applies
    * to integer columns; TIMESTAMP columns carry their own unit.
    */
  private[graft] def toEpochMicros(dt: DataType, c: Column, tsUnit: String): Column = dt match {
    case _: TimestampType => unix_micros(c)
    case _: TimestampNTZType => unix_micros(c.cast(TimestampType))
    case _: DateType => unix_micros(c.cast(TimestampType))
    case _: NumericType =>
      tsUnit match {
        case "D" => c.cast(LongType) * lit(86400000000L)
        case "s" => c.cast(LongType) * lit(1000000L)
        case "ms" => c.cast(LongType) * lit(1000L)
        case "us" => c.cast(LongType)
        // integer division via decimal: epoch-ns (~1.7e18) exceeds a double's
        // 2^53 exact range, so `/` (fractional divide) would corrupt low bits
        case "ns" => (c.cast(DecimalType(38, 0)) / lit(1000)).cast(LongType)
        case u => throw new IllegalArgumentException(s"ts_unit '$u' not in D|s|ms|us|ns")
      }
    case other => throw new IllegalArgumentException(s"unsupported datetime type $other")
  }

  /** Convert internal epoch-µs rows into the public wide DataFrame with a
    * TIMESTAMP `datetime` column, reference column order.
    */
  private def widen(df: DataFrame): DataFrame = {
    val cols = wideColumns.map {
      case "datetime" => timestamp_micros(col("datetime_us")).as("datetime")
      case c => col(c)
    }
    df.select(cols: _*)
  }

  private def toRow(sym: String, b: Brick): BrickRow = BrickRow(
    symbol = sym,
    datetime_us = b.ts,
    open = b.open, high = b.high, low = b.low, close = b.close,
    volume = b.volume, direction = b.direction, is_reversal = b.isReversal,
    tick_index_open = b.tickIndexOpen, tick_index_close = b.tickIndexClose,
    normal_high = b.normalHigh, normal_low = b.normalLow,
    nongap_open = b.nongapOpen,
    reverse_nongap_open = b.reverseNongapOpen,
    reverse_fake_nongap_open = b.reverseFakeNongapOpen,
    reverse_high = b.reverseHigh, reverse_low = b.reverseLow,
    fake_high = b.fakeHigh, fake_low = b.fakeLow)
}
