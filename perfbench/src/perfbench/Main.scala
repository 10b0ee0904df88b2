package perfbench

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer

/** What one pass did: how many operations it made, the latencies that
  * `op_p50_s` is taken over, the rows it handed back to the caller, and
  * whatever its check needs. */
final case class PassOut(opSeconds: Seq[Double], ops: Int, resultRows: Long, payload: Any)

/** One workload: inputs made in `setup`, then identical passes. */
trait Workload {
  /** Input rows one pass consumes (ticks, or documents plus vectors). */
  def inputRows: Long
  def setup(): Unit
  def pass(id: Int): PassOut
  /** The untimed pass before the timed ones (JIT, codegen, caches). */
  def warmUp(): PassOut = pass(-1)
  /** Timed passes a run makes even when they outlast `--seconds`. */
  def minPasses: Int = 1
  /** Failures of this pass's output (empty = correct). */
  def check(out: PassOut): Seq[String]
  /** Per-pass cleanup of what the pass wrote. */
  def afterPass(out: PassOut): Unit = ()
  /** Traced runs only: time the workload's source with no work behind it. */
  def drainSource(): Unit
  /** Traced runs only: the workload's named layer measurements. */
  def layerLedger(): Map[String, Double]
}

final case class Ctx(spark: SparkSession, work: String, seed: Long, cores: Int)

object Main {

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "renko_batch_1series" => new BatchWorkload(ctx, multi = false)
    case "renko_batch_multiseries" => new BatchWorkload(ctx, multi = true)
    case "renko_stream_restart" => new StreamWorkload(ctx)
    case "corpus_index_epochs" => new CorpusWorkload(ctx)
  }

  def main(args: Array[String]): Unit = {
    val work = arg(args, "--work").get
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    HeapPeak.install()
    val spark = session(work, cores)
    val ok =
      try args(0) match {
        case "run" => run(spark, args, work, cores)
        case "selftest" => SelfTest.run(spark, work, arg(args, "--golden").map(g => (g, args(args.indexOf("--golden") + 2))))
        case "ties" => Ties.run(spark, work)
      } finally spark.stop()
    System.exit(if (ok) 0 else 1)
  }

  private def run(spark: SparkSession, args: Array[String], work: String, cores: Int): Boolean = {
    val name = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toLong
    val seconds = arg(args, "--seconds").get.toDouble
    val traced = arg(args, "--trace").get == "1"
    val ctx = Ctx(spark, work, seed, cores)
    val counters = new SparkCounters(spark.sparkContext)
    val w = workload(name, ctx)
    val failures = new ArrayBuffer[String]()

    // set-up: inputs, then one untimed warm-up pass (checked like the rest)
    val t00 = System.nanoTime()
    System.err.println(s"perfbench: session up at ${System.currentTimeMillis() - arg(args, "--t0-ms").get.toLong} ms")
    w.setup()
    val t01 = System.nanoTime()
    val warm = w.warmUp()
    val t02 = System.nanoTime()
    failures ++= w.check(warm)
    w.afterPass(warm)
    val setupEndMs = System.currentTimeMillis()
    System.err.println(f"perfbench: inputs ${(t01 - t00) / 1e9}%.2f s, warm-up pass ${(t02 - t01) / 1e9}%.2f s, " +
      f"its check ${(System.nanoTime() - t02) / 1e9}%.2f s")

    Trace.on = traced
    Trace.counters = new SparkCounters(spark.sparkContext)
    Trace.cores = cores
    HeapPeak.reset()
    HeapPeak.on = true
    val passS = new ArrayBuffer[Double]()
    val opS = new ArrayBuffer[Double]()
    val passCounters = new ArrayBuffer[Map[String, Double]]()
    var attempted = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    var p = 0
    // whole passes until the time is up; every pass is the same round of
    // operations, so `failed` is the same share of `attempted` in every run
    while (p < w.minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      Trace.pass = p
      counters.reset()
      val a = System.nanoTime()
      val out = w.pass(p)
      val dt = (System.nanoTime() - a) / 1e9
      HeapPeak.on = false
      passCounters += counters.snapshot(dt, cores, out.resultRows)
      passS += dt
      opS ++= out.opSeconds
      attempted += out.ops
      val c = System.nanoTime()
      failures ++= w.check(out)
      System.err.println(f"perfbench: pass $p ${dt}%.3f s, check ${(System.nanoTime() - c) / 1e9}%.2f s")
      w.afterPass(out)
      HeapPeak.on = true
      p += 1
    }
    HeapPeak.on = false
    Trace.pass = -1

    val passMed = Stats.median(passS.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("pass_s", passMed, "s"),
        ("input_rows_per_s", w.inputRows / passMed, "rows/s"),
        ("op_p50_s", Stats.median(opS.toSeq), "s"),
        ("peak_heap_mb", HeapPeak.peakMb, "MB"))
      else {
        val opsPerPass = attempted.toDouble / passS.size
        val perPass = passCounters.head.keys.map { k =>
          k -> Stats.median(passCounters.map(_(k)).toSeq)
        }.toMap
        Trace.pass = -2
        val drainT = System.nanoTime()
        Trace.span("source.drain")(w.drainSource())
        val drainS = (System.nanoTime() - drainT) / 1e9
        val ledger = w.layerLedger()
        writeTrace(arg(args, "--trace-dir").get, name, seed, passS.toSeq, ledger)
        (perPass + ("spark.jobs_per_op" -> perPass("spark.jobs") / opsPerPass)).toSeq.sorted.map {
          case (k, v) => (k, v, unitOf(k))
        } ++ Seq(("source.drain_s", drainS, "s"), ("trace.pass_s", passMed, "s"))
      }

    failures.take(10).foreach(f => System.err.println(s"CHECK FAILED: $f"))
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" } ++
      (if (traced) Nil else Seq(s""""setup_s": {"end_ms": $setupEndMs, "unit": "s"}"""))
    val json = s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}"""
    val pw = new PrintWriter(new File(arg(args, "--result").get))
    try pw.println(json) finally pw.close()
    true
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_rows")) "rows"
    else if (k.endsWith("_share")) "share"
    else "count"

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v).replace("E", "e")

  private def writeTrace(dir: String, name: String, seed: Long, passS: Seq[Double],
      ledger: Map[String, Double]): Unit = {
    new File(dir).mkdirs()
    val spans = Trace.all.map { s =>
      val c = s.counters.toSeq.sorted.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "pass": ${s.pass}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "counters": {$c}}"""
    }
    val self = Trace.selfSeconds().toSeq.sorted.map { case (k, v) => s""""$k": ${num(v)}""" }
    val led = ledger.toSeq.sorted.map { case (k, v) => s""""$k": ${num(v)}""" }
    val pw = new PrintWriter(new File(dir, s"$name-seed$seed.json"))
    try pw.println(
      s"""{"workload": "$name", "seed": $seed, "pass_s": [${passS.map(num).mkString(", ")}],\n""" +
        s""" "self_s": {${self.mkString(", ")}},\n "ledger": {${led.mkString(", ")}},\n""" +
        s""" "spans": [\n  ${spans.mkString(",\n  ")}\n]}""")
    finally pw.close()
  }
}
