package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spark's own counters for everything that ran since the last `reset`,
  * gathered by a `SparkListener`. Read them only after `drain`, which waits
  * until the listener bus has delivered every event posted so far.
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private var jobs = 0L
  private var stages = 0L
  private val taskS = new ArrayBuffer[Double]()
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleW = 0L
  private var shuffleR = 0L
  private var spill = 0L
  private var inRows = 0L
  private var outRows = 0L
  private var peakMem = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskS += e.taskInfo.duration / 1000.0
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inRows += m.inputMetrics.recordsRead
      outRows += m.outputMetrics.recordsWritten
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def reset(): Unit = { drain(); synchronized {
    jobs = 0; stages = 0; taskS.clear(); runMs = 0; cpuNs = 0; gcMs = 0
    shuffleW = 0; shuffleR = 0; spill = 0; inRows = 0; outRows = 0; peakMem = 0
  } }

  /** Counters since the last reset. `wallS` and `cores` turn executor run
    * time into a busy share; `resultRows` adds rows a pass collected to the
    * rows its sinks wrote. */
  def snapshot(wallS: Double, cores: Int, resultRows: Long): Map[String, Double] = {
    drain()
    synchronized {
      Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> taskS.size.toDouble,
        "spark.task_p50_s" -> Stats.median(taskS.toSeq),
        "spark.task_max_s" -> (if (taskS.isEmpty) 0.0 else taskS.max),
        "spark.busy_share" -> runMs / 1000.0 / (wallS * cores),
        "spark.cpu_s" -> cpuNs / 1e9,
        "spark.gc_s" -> gcMs / 1000.0,
        "spark.shuffle_write_bytes" -> shuffleW.toDouble,
        "spark.shuffle_read_bytes" -> shuffleR.toDouble,
        "spark.spill_bytes" -> spill.toDouble,
        "spark.input_rows" -> inRows.toDouble,
        "spark.output_rows" -> (outRows + resultRows).toDouble,
        "spark.peak_exec_memory_bytes" -> peakMem.toDouble)
    }
  }
}

/** Largest heap occupancy right after a garbage collection, over the time
  * the monitor is on. Fed by the JVM's GC notifications. */
object HeapPeak {
  @volatile var on = false
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peak) peak = used
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** The benchmark's own tracing: when on, a span (name, start, end, parent,
  * pass) is recorded around every layer call, with the Spark counters of
  * the work under it. Spans stay in memory and are written out at exit. */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      startNs: Long, endNs: Long, counters: Map[String, Double])

  @volatile var on = false
  var pass: Int = -1
  var counters: SparkCounters = _
  var cores: Int = 1
  private val spans = new ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      // counters are attached to top-level spans only: a nested reset would
      // zero the parent's running totals
      val top = parent == -1
      if (top) counters.reset()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        val c = if (top) counters.snapshot((t1 - t0) / 1e9, cores, 0L) else Map.empty[String, Double]
        spans += Span(id, name, parent, pass, t0, t1, c)
      }
    }

  /** Record an interval measured elsewhere (e.g. a streaming trigger). */
  def record(name: String, seconds: Double): Unit = if (on) {
    val t1 = System.nanoTime()
    spans += Span(nextId, name, stack.headOption.getOrElse(-1), pass,
      t1 - (seconds * 1e9).toLong, t1, Map.empty)
    nextId += 1
  }

  def all: Seq[Span] = spans.toSeq

  /** Self seconds per span name (span minus the part its children cover),
    * summed within each pass, median over passes. */
  def selfSeconds(): Map[String, Double] = {
    val childS = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => (s.endNs - s.startNs) / 1e9).sum }
    spans.filter(_.pass >= 0).groupBy(_.name).map { case (name, ss) =>
      val perPass = ss.groupBy(_.pass).values.map(_.map(s =>
        (s.endNs - s.startNs) / 1e9 - childS.getOrElse(s.id, 0.0)).sum).toSeq
      name -> Stats.median(perPass)
    }
  }
}

object Stats {
  /** Median; 0 for an empty sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
