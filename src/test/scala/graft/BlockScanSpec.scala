package graft

import graft.operators.{BrickRow, Renko, Tick}
import graft.plans.{RenkoFoldExec, RenkoPackExec, RenkoScanStrategy}
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** `fromTicks` packs each input partition into sorted per-series blocks and
  * k-way merges them. Whatever the input order and partitioning, it must
  * equal the fold over the input's stable (symbol, t) sort, where input
  * order is partition order, then row order: a tie keeps it. The
  * `graft_renko` TVF runs the same plan.
  */
class BlockScanSpec extends SparkTestBase {

  import spark.implicits._

  private val brick = 1.0

  /** A (sym, datetime, close) frame whose partitions hold exactly `parts`. */
  private def frame(parts: Seq[Seq[(String, Long, Double)]]): DataFrame =
    spark.sparkContext.parallelize(parts.indices, parts.size)
      .mapPartitionsWithIndex((i, _) => parts(i).iterator)
      .toDF("sym", "datetime", "close")

  /** A random walk of `n` ticks, `perTs` ticks per timestamp. */
  private def walk(sym: String, n: Int, seed: Int, perTs: Int = 1): Seq[(String, Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    var p = 100.0
    (0 until n).map { i =>
      p += (rnd.nextDouble() - 0.5) * 1.5
      (sym, (i / perTs).toLong * 1000L, p)
    }
  }

  /** Cut `ticks` into `n` partitions of near-equal size (some may be empty). */
  private def split(ticks: Seq[(String, Long, Double)], n: Int): Seq[Seq[(String, Long, Double)]] = {
    val size = math.max(1, (ticks.size + n - 1) / n)
    val cut = ticks.grouped(size).toSeq
    cut ++ Seq.fill(n - cut.size)(Seq.empty)
  }

  private def bySymbol(rows: Seq[BrickRow]): Map[String, Seq[BrickRow]] = rows.groupBy(_.symbol)

  private def collectBricks(df: DataFrame): Seq[BrickRow] =
    df.withColumn("datetime_us", unix_micros(col("datetime"))).drop("datetime")
      .as[BrickRow].collect().toSeq

  /** Every node of an executed plan, query stages included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** The wicks view's columns of a brick, as the TVF's default mode gives them. */
  private def wicks(b: BrickRow) = (b.symbol, b.datetime_us, b.open, b.high, b.low, b.close, b.volume,
    b.direction, b.is_reversal, b.tick_index_open, b.tick_index_close)

  private def collectWicks(df: DataFrame) =
    df.select(col("symbol"), unix_micros(col("datetime")), col("open"), col("high"), col("low"),
      col("close"), col("volume"), col("direction"), col("is_reversal"), col("tick_index_open"),
      col("tick_index_close")).as[(String, Long, Double, Double, Double, Double, Long, Int, Int, Long, Long)]
      .collect().toSeq

  private def assertFold(name: String, parts: Seq[Seq[(String, Long, Double)]], keyed: Boolean): Unit = {
    val df = frame(parts)
    val input = df.collect().map(r => Tick(if (keyed) r.getString(0) else "", r.getLong(1), r.getDouble(2)))
    val want = bySymbol(Renko.scanPartition(input.sortBy(k => (k.symbol, k.t)).iterator, brick, dropFirst = true).toSeq)
    val symbolCol = if (keyed) Some("sym") else None
    val viaFromTicks = collectBricks(Renko.fromTicks(df, brick, symbolCol = symbolCol))
    val ticks = df.select(
      (if (keyed) col("sym") else lit("")).as("symbol"), col("datetime").as("t"), col("close").as("price"))
    val viaSmallBlocks = collectBricks(Renko.blockScan(ticks, brick, dropFirst = true, blockCap = 7))
    assert(want.values.map(_.size).sum > 0, s"$name: no bricks to compare")
    for ((got, how) <- Seq(viaFromTicks -> "fromTicks", viaSmallBlocks -> "blockCap 7")) {
      val g = bySymbol(got)
      assert(g.keySet == want.keySet, s"$name ($how): series differ")
      for ((sym, rows) <- want) assert(g(sym) == rows, s"$name ($how): series '$sym' differs")
    }
    GraftExtensions.registerRenkoTvf(spark)
    df.createOrReplaceTempView("block_scan_ticks")
    val viaTvf = collectWicks(spark.sql(
      s"SELECT * FROM graft_renko('block_scan_ticks', $brick, 'wicks', '${if (keyed) "sym" else ""}')"))
      .groupBy(_._1)
    assert(viaTvf.keySet == want.keySet, s"$name (TVF): series differ")
    for ((sym, rows) <- want) assert(viaTvf(sym) == rows.map(wicks), s"$name (TVF): series '$sym' differs")
  }

  private val cases: Seq[(String, Seq[Seq[(String, Long, Double)]], Boolean)] = {
    val rnd = new scala.util.Random(7)
    val ties = walk("", 600, 3, perTs = 4)
    val keyedTies = walk("a", 300, 11, perTs = 3) ++ walk("b", 300, 12, perTs = 2)
    Seq(
      ("reversed input", split(walk("", 900, 1).reverse, 3), false),
      ("random shuffle over 7 partitions", split(rnd.shuffle(ties), 7), false),
      ("empty partitions", Seq(Seq.empty, walk("", 200, 2).take(120), Seq.empty, Seq.empty,
        walk("", 200, 2).drop(120), Seq.empty), false),
      ("one-tick partitions", walk("", 40, 4).map(Seq(_)) :+ Seq.empty, false),
      ("symbol present in only some partitions",
        split(rnd.shuffle(keyedTies), 3) :+ walk("c", 150, 13) :+ Seq.empty :+ walk("d", 80, 14).reverse, true),
      ("300 series of 1-3 ticks", split(rnd.shuffle((0 until 300).flatMap { s =>
        Seq.tabulate(1 + s % 3)(i => (f"s$s%03d", i.toLong, 100.0 + (if (i == 1) 2.5 else -1.5 * i)))
      }), 5), true),
      ("ties inside a partition", Seq(ties.take(250), ties.drop(250)), false),
      ("ties across partitions, keyed", split(keyedTies, 4), true))
  }

  for (shufflePartitions <- Seq(1, 3, 8); aqe <- Seq(true, false))
    test(s"fromTicks == the stable-sorted fold (shuffle partitions $shufflePartitions, AQE $aqe)") {
      val before = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try cases.foreach { case (name, parts, keyed) => assertFold(name, parts, keyed) }
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  test("SQL metrics: ticks, blocks and bricks read right after collect, and explain shows them") {
    // 3 series over 4 partitions; a block cap of 7 splits the long runs
    val parts = Seq(walk("a", 40, 21), walk("b", 15, 22) ++ walk("a", 9, 23), Seq.empty, walk("c", 7, 24))
    val df = frame(parts)
    val ticks = df.select(col("sym").as("symbol"), col("datetime").as("t"), col("close").as("price"))
    val wide = Renko.blockScan(ticks, brick, dropFirst = true, blockCap = 7)
    val rows = wide.collect()
    val plan = nodes(wide.queryExecution.executedPlan)
    val pack = plan.collectFirst { case p: RenkoPackExec => p }.get
    val fold = plan.collectFirst { case f: RenkoFoldExec => f }.get
    // per partition and series, ceil(n / 7) blocks: a 40 + b 15 + a 9 + c 7
    assert(pack.metrics("ticks").value == 71)
    assert(pack.metrics("blocks").value == 6 + 3 + 2 + 1)
    assert(fold.metrics("numOutputRows").value == rows.length && rows.nonEmpty)
    assert(pack.metrics("packTime").value > 0 && fold.metrics("foldTime").value > 0)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(wide.explain("formatted"))
    val text = out.toString
    for (m <- Seq("number of ticks: 71", "number of blocks: 12", s"number of bricks: ${rows.length}",
        "pack time: ", "merge + fold time: "))
      assert(text.contains(m), s"explain should show '$m':\n$text")
  }

  test("symbol pushdown from the DataFrame API, in a session without GraftExtensions") {
    val fresh = spark.newSession()
    assert(!fresh.conf.getOption("spark.sql.extensions").exists(_.contains("GraftExtensions")))
    assert(!fresh.experimental.extraStrategies.contains(RenkoScanStrategy), "fromTicks must install the strategy")
    val dir = java.nio.file.Files.createTempDirectory("block-scan-pushdown").toString + "/ticks"
    frame(split(scala.util.Random.shuffle(walk("x", 300, 31) ++ walk("y", 300, 32) ++ walk("z", 200, 33)), 3))
      .write.parquet(dir)
    val src = fresh.read.parquet(dir)
    val filtered = Renko.fromTicks(src, brick, symbolCol = Some("sym")).filter(col("symbol") === "y")
    val scans = nodes(filtered.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.metadata.get("PushedFilters").exists(_.contains("EqualTo(sym,y)"))),
      s"the symbol predicate must reach the parquet scan:\n${filtered.queryExecution.executedPlan}")
    val all = Renko.fromTicks(src, brick, symbolCol = Some("sym")).collect()
    val got = filtered.collect()
    assert(got.nonEmpty && got.toSeq == all.filter(_.getString(0) == "y").toSeq,
      "pushed-down bricks must equal the filter after the scan")
  }

  test("a self-join of a fromTicks result, and a CTE over graft_renko read twice") {
    val parts = split(walk("a", 800, 41) ++ walk("b", 600, 42, perTs = 2), 3)
    val wide = Renko.fromTicks(frame(parts), brick, symbolCol = Some("sym"))
    val n = wide.count()
    // bricks of one tick share a datetime but not a close
    val on = Seq("symbol", "datetime", "close")
    val self = wide.alias("l").join(wide.alias("r"), on.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _))
    assert(n > 20 && self.count() == n)
    GraftExtensions.registerRenkoTvf(spark)
    frame(parts).createOrReplaceTempView("block_scan_self_join")
    val viaSql = spark.sql(
      s"""WITH r AS (SELECT * FROM graft_renko('block_scan_self_join', $brick, 'wicks', 'sym'))
         |SELECT count(*) FROM r x JOIN r y
         |  ON x.symbol = y.symbol AND x.datetime = y.datetime AND x.close = y.close""".stripMargin)
    assert(viaSql.head().getLong(0) == n)
  }

  /** A session on this suite's context and shared state, built with `install`'s
    * extensions as `spark.sql.extensions` would build it. Its constructor is
    * not open to Scala callers, so it is reached by reflection.
    */
  private def withExtensions(install: SparkSessionExtensions => Unit): SparkSession = {
    val ext = new SparkSessionExtensions
    install(ext)
    val cls = classOf[org.apache.spark.sql.classic.SparkSession]
    val make = cls.getConstructor(classOf[org.apache.spark.SparkContext], classOf[Option[_]], classOf[Option[_]],
      classOf[SparkSessionExtensions], classOf[Map[_, _]], classOf[Map[_, _]])
    make.newInstance(spark.sparkContext, Some(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState),
      None, ext, Map.empty[String, String], Map.empty[String, String])
  }

  test("a session built with GraftExtensions plans the renko node with no fromTicks call of its own") {
    val view = "block_scan_global_renko"
    Renko.fromTicks(frame(split(walk("a", 80, 51) ++ walk("b", 60, 52), 2)), brick, symbolCol = Some("sym"))
      .createOrReplaceGlobalTempView(view)
    try {
      val want = spark.table(s"global_temp.$view").collect().map(_.toString).sorted.toSeq
      val other = withExtensions(new GraftExtensions()).newSession()
      assert(!other.experimental.extraStrategies.contains(RenkoScanStrategy))
      assert(want.nonEmpty && other.table(s"global_temp.$view").collect().map(_.toString).sorted.toSeq == want)
    } finally spark.catalog.dropGlobalTempView(view)
  }

  test("sortedByTime: stable natural-run merge") {
    val rnd = new scala.util.Random(5)
    for (n <- Seq(0, 1, 2, 17, 1000); shape <- Seq("sorted", "reversed", "random")) {
      val t = Array.tabulate(n) { i =>
        shape match {
          case "sorted" => i / 3L
          case "reversed" => (n - i) / 3L
          case _ => rnd.nextInt(math.max(1, n / 4)).toLong
        }
      }
      val price = Array.tabulate(n)(_.toDouble) // the input row, to check stability
      val (st, sp) = Renko.sortedByTime(t.clone(), price.clone())
      val want = t.zip(price).sortBy(_._1)
      assert(st.toSeq == want.map(_._1).toSeq && sp.toSeq == want.map(_._2).toSeq, s"n=$n $shape")
    }
  }
}
