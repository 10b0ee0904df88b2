package graft

import graft.operators.Renko
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `fromTicksParallel` (range-partitioned parallel sort + sync-point
  * stitched scan) must be BIT-IDENTICAL to the sequential `fromTicks` on
  * every workload — the parallelization is an execution strategy, not a
  * semantics change. Covers: random walks (frequent sync), flat series
  * (fallback path), gappy jumps (multi-brick emissions at partition
  * boundaries), tiny inputs (fewer rows than partitions), and the events
  * fixture.
  */
class ParallelScanSpec extends SparkTestBase {

  /** Runs `scan` and asserts it leaves no persisted RDD behind except the
    * checkpointed bricks its own result reads: the stitch pins its ticks
    * for the two jobs and must free them on every exit (success, no-sync
    * fallback, sorted-contract fallback).
    */
  private def noCacheLeft(scan: => DataFrame): DataFrame = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = scan
    val own = out.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before -- own
    assert(left.isEmpty, s"persisted RDDs left behind: ${left.map(spark.sparkContext.getPersistentRDDs)}")
    out
  }

  private def assertSame(df: DataFrame, brick: Double, parts: Int, cap: Int = 4096): Unit = {
    val seqOut = Renko.fromTicks(df, brick)
      .orderBy(col("datetime"), (col("close") * col("direction")).asc)
      .collect()
    val parOut = noCacheLeft(Renko.parallelScan(df, brick, numPartitions = parts, prefixCap = cap)._1)
      .orderBy(col("datetime"), (col("close") * col("direction")).asc)
      .collect()
    assert(seqOut.length == parOut.length,
      s"row count: seq=${seqOut.length} par=${parOut.length}")
    seqOut.zip(parOut).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"row $i differs:\n  seq=$a\n  par=$b")
    }
  }

  private def walk(n: Int, jumpEvery: Int = 0): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    var p = 100.0
    (0 until n).map { i =>
      p += (rnd.nextDouble() - 0.5) * 2.0
      if (jumpEvery > 0 && i % jumpEvery == jumpEvery - 1) p += (if (rnd.nextBoolean()) 30.0 else -30.0)
      (i.toLong * 1000L, p)
    }.toDF("datetime", "close")
  }

  test("random walk: parallel == sequential, several partition counts") {
    val df = walk(20000)
    for (parts <- Seq(2, 7, 16)) assertSame(df, 1.0, parts)
  }

  test("gappy walk (multi-brick emissions at boundaries)") {
    assertSame(walk(8000, jumpEvery = 500), 1.0, 8)
  }

  test("flat series: prefix never syncs -> sequential fallback, still exact") {
    import spark.implicits._
    // price pinned inside one brick: no emission ever, bricks are empty
    val df = (0 until 5000).map(i => (i.toLong, 100.0 + (i % 3) * 0.1)).toDF("datetime", "close")
    assertSame(df, 1.0, 4, cap = 64)
  }

  test("flat-then-moving: sync outside a small prefix cap falls back") {
    import spark.implicits._
    val df = (0 until 4000).map { i =>
      val p = if (i % 1000 < 990) 100.0 else 100.0 + (i % 10) * 3.0
      (i.toLong, p)
    }.toDF("datetime", "close")
    assertSame(df, 1.0, 4, cap = 8)
  }

  test("tiny input: fewer ticks than partitions") {
    import spark.implicits._
    val df = Seq((0L, 100.0), (1L, 103.5), (2L, 96.2), (3L, 108.0))
      .toDF("datetime", "close")
    assertSame(df, 1.0, 8)
  }

  test("bursty time distribution: bit-identical, sync depths bounded") {
    // dense 500-tick bursts separated by day-long gaps — extreme time-density
    // skew for the range partitioner (even row counts, uneven time spans)
    val bursty = walk(20000).withColumn("datetime",
      col("datetime") + (col("datetime") / lit(500000L)) * lit(86400000000L))
    assertSame(bursty, 2.0, 8)
    val (_, stats) = Renko.parallelScan(bursty, 2.0, numPartitions = 8)
    assert(!stats.fellBack)
    val real = stats.syncDepths.filter(_ != Long.MaxValue)
    assert(real.nonEmpty && real.forall(_ < 4096),
      s"sync depths should stay far below the prefix cap: ${stats.syncDepths}")
  }

  private def assertSameMulti(df: DataFrame, brick: Double, parts: Int, cap: Int = 4096): Unit = {
    val ord = Seq(col("symbol"), col("datetime"), (col("close") * col("direction")).asc)
    val seqOut = Renko.fromTicks(df, brick, symbolCol = Some("symbol"))
      .orderBy(ord: _*).collect()
    val parOut = Renko.parallelScan(df, brick, numPartitions = parts,
      prefixCap = cap, symbolCol = Some("symbol"))._1
      .orderBy(ord: _*).collect()
    assert(seqOut.length == parOut.length,
      s"row count: seq=${seqOut.length} par=${parOut.length}")
    seqOut.zip(parOut).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"row $i differs:\n  seq=$a\n  par=$b")
    }
  }

  private def multiWalk(nPerSym: Int, syms: Seq[String]): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    syms.flatMap { s =>
      var p = 100.0 + s.hashCode % 50
      (0 until nPerSym).map { i =>
        p += (rnd.nextDouble() - 0.5) * 2.0
        (s, i.toLong * 1000L, p)
      }
    }.toDF("symbol", "datetime", "close")
  }

  test("multi-series: parallel == sequential across partition counts and symbol counts") {
    // 3 big series over 8 partitions: each symbol spans several partitions
    assertSameMulti(multiWalk(8000, Seq("AAA", "BBB", "CCC")), 1.0, 8)
    // more symbols than partitions: several runs per partition
    assertSameMulti(multiWalk(1500, Seq("a", "b", "c", "d", "e", "f", "g")), 1.0, 4)
    // single symbol through the multi path == the single-series contract
    assertSameMulti(multiWalk(6000, Seq("ONLY")), 1.0, 8)
  }

  test("multi-series: per-symbol drop-first rule and tiny series survive") {
    import spark.implicits._
    // one 4-tick series next to one large one — the small series is fully
    // driver-replayed (sync depth Long.MaxValue) while the big one syncs
    val tiny = Seq(("T", 0L, 100.0), ("T", 1L, 103.5), ("T", 2L, 96.2), ("T", 3L, 108.0))
      .toDF("symbol", "datetime", "close")
    val df = multiWalk(8000, Seq("BIG")).unionByName(tiny)
    assertSameMulti(df, 1.0, 8)
  }

  test("multi-series: a flat symbol forces the fallback, output still exact") {
    import spark.implicits._
    val flat = (0 until 5000).map(i => ("FLAT", i.toLong, 100.0 + (i % 3) * 0.1))
      .toDF("symbol", "datetime", "close")
    val df = multiWalk(5000, Seq("MOVES")).unionByName(flat)
    assertSameMulti(df, 1.0, 4, cap = 64)
    val (_, stats) = Renko.parallelScan(df, 1.0, numPartitions = 4, prefixCap = 64,
      symbolCol = Some("symbol"))
    assert(stats.fellBack, "the flat symbol should exhaust its prefix without syncing")
  }

  test("events fixture at sf0.001, ns unit") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("ts").as("datetime"), col("value").as("close"))
    val seqOut = Renko.fromTicks(ev, 25.0, tsUnit = "ns")
      .orderBy(col("datetime"), (col("close") * col("direction")).asc).collect()
    val parOut = Renko.fromTicksParallel(ev, 25.0, tsUnit = "ns", numPartitions = 4)
      .orderBy(col("datetime"), (col("close") * col("direction")).asc).collect()
    assert(seqOut.length == parOut.length)
    seqOut.zip(parOut).foreach { case (a, b) => assert(a == b) }
  }

  test("events fixture by event_type: multi-series parallel == sequential, ns unit") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_type").as("symbol"), col("ts").as("datetime"),
        col("value").as("close"))
    val ord = Seq(col("symbol"), col("datetime"), (col("close") * col("direction")).asc)
    val seqOut = Renko.fromTicks(ev, 25.0, symbolCol = Some("symbol"), tsUnit = "ns")
      .orderBy(ord: _*).collect()
    val parOut = Renko.fromTicksParallel(ev, 25.0, tsUnit = "ns", numPartitions = 4,
      symbolCol = Some("symbol"))
      .orderBy(ord: _*).collect()
    assert(seqOut.length == parOut.length,
      s"row count: seq=${seqOut.length} par=${parOut.length}")
    seqOut.zip(parOut).foreach { case (a, b) => assert(a == b) }
  }

  test("sorted parallel scan (existing partitions, zero shuffle): bit-identical to sequential") {
    // spark.range partitions are time-contiguous and ascending in partition
    // index — exactly the sorted-source contract
    val df = spark.range(0, 60000, 1, 16).select(
      (col("id") * 1000L).as("datetime"),
      (lit(100.0) + lit(30.0) * sin(col("id").cast("double") / lit(500.0))
        + (pmod(xxhash64(col("id")), lit(100L)).cast("double") / lit(50.0))).as("close"))
    val ord = Seq(col("datetime"), (col("close") * col("direction")).asc)
    val seqOut = Renko.fromTicks(df, 1.0).orderBy(ord: _*).collect()
    val sp = Renko.fromSortedTicksParallel(df, 1.0)
    val parOut = sp.orderBy(ord: _*).collect()
    assert(seqOut.length == parOut.length && seqOut.length > 0,
      s"row count: seq=${seqOut.length} par=${parOut.length}")
    seqOut.zip(parOut).foreach { case (a, b) => assert(a == b) }
    // ZERO shuffles: the whole point of the sorted variant
    val plan = sp.queryExecution.executedPlan
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        shuffles(a.executedPlan)
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        1 + s.children.map(shuffles).sum
      case other => other.children.map(shuffles).sum
    }
    assert(shuffles(plan) == 0,
      s"sorted parallel scan must plan zero shuffles:\n$plan")
  }

  test("sorted parallel scan: unsorted partitions violate the contract -> fallback, never wrong") {
    // descending time inside every partition — the scan must detect the
    // violated sorted contract from job 1's evidence and fall back to the
    // sequential plan (which sorts), instead of stitching wrong bricks
    val df = spark.range(0, 20000, 1, 8).select(
      ((lit(20000L) - col("id")) * 1000L).as("datetime"),
      (lit(100.0) + lit(10.0) * sin(col("id").cast("double") / lit(200.0))).as("close"))
    val ord = Seq(col("datetime"), (col("close") * col("direction")).asc)
    val seqOut = Renko.fromTicks(df, 1.0).orderBy(ord: _*).collect()
    val parOut = noCacheLeft(Renko.fromSortedTicksParallel(df, 1.0)).orderBy(ord: _*).collect()
    assert(seqOut.length == parOut.length && seqOut.length > 0,
      s"row count: seq=${seqOut.length} par=${parOut.length}")
    seqOut.zip(parOut).foreach { case (a, b) => assert(a == b) }
  }

  test("sorted parallel scan: time-overlapping partitions -> fallback, never wrong") {
    // each partition internally ascending, but their time ranges fully
    // interleave (partition 0 = even ts, partition 1 = odd ts) — the
    // cross-partition monotonicity check must reject the stitch
    val n = 10000L
    val df = spark.range(0, 2 * n, 1, 2).select(
      (pmod(col("id"), lit(n)) * 2L + floor(col("id") / lit(n)).cast("long")).as("datetime"),
      (lit(100.0) + lit(8.0) * sin(col("id").cast("double") / lit(150.0))).as("close"))
    val ord = Seq(col("datetime"), (col("close") * col("direction")).asc)
    val seqOut = Renko.fromTicks(df, 1.0).orderBy(ord: _*).collect()
    val parOut = Renko.fromSortedTicksParallel(df, 1.0).orderBy(ord: _*).collect()
    assert(seqOut.length == parOut.length && seqOut.length > 0,
      s"row count: seq=${seqOut.length} par=${parOut.length}")
    seqOut.zip(parOut).foreach { case (a, b) => assert(a == b) }
  }

  test("sorted parallel scan: flat series falls back to sequential, still exact") {
    val flat = spark.range(0, 5000, 1, 8).select(
      col("id").as("datetime"),
      (lit(100.0) + pmod(col("id"), lit(3)).cast("double") * lit(0.1)).as("close"))
    val ord = Seq(col("datetime"), (col("close") * col("direction")).asc)
    val seqOut = Renko.fromTicks(flat, 1.0).orderBy(ord: _*).collect()
    val parOut = Renko.parallelScan(flat, 1.0, prefixCap = 64, presorted = true)._1
      .orderBy(ord: _*).collect()
    assert(seqOut.length == parOut.length)
    seqOut.zip(parOut).foreach { case (a, b) => assert(a == b) }
  }

  test("sorted parallel scan: first-brick timestamp tied across a partition border") {
    import spark.implicits._
    // partition 0 emits the series' first brick at ts 2; partition 1 opens
    // at ts 2 and emits there too. The drop-first rule is per symbol, so it
    // must drop the second run's ts-2 brick as well
    val rows = Seq((0L, 100.0), (1L, 100.5), (2L, 101.2), (2L, 102.3), (3L, 103.4), (4L, 104.6))
    val df = spark.createDataset(spark.sparkContext.parallelize(rows, 2)).toDF("datetime", "close")
    assert(df.rdd.glom().collect().map(_.length).toSeq == Seq(3, 3))
    val ord = Seq(col("datetime"), (col("close") * col("direction")).asc)
    val seqOut = Renko.fromSortedTicks(df.coalesce(1), 1.0).orderBy(ord: _*).collect()
    assert(seqOut.map(_.getAs[Double]("close")).toSeq == Seq(103.0, 104.0))
    assert(!Renko.parallelScan(df, 1.0, presorted = true)._2.fellBack,
      "a tie at the border meets the sorted contract")
    val sp = Renko.fromSortedTicksParallel(df, 1.0)
    assert(sp.orderBy(ord: _*).collect().toSeq == seqOut.toSeq)
    assert(sp.filter(unix_micros(col("datetime")) === 2L).isEmpty, "no brick may carry the first ts")
  }
}
