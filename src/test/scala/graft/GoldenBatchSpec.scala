package graft

import graft.operators.{Renko, RenkoModes, ToRws}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end batch validation against golden outputs produced by RUNNING the
  * reference implementation (tools/gen_goldens.py) on its own tick data and
  * on the driver's `events` table. Bit-exact on every wide-table column.
  */
class GoldenBatchSpec extends SparkTestBase {

  private val golden = "src/test/resources/golden"

  private val wideCols = Seq("symbol", "datetime_us", "open", "high", "low",
    "close", "volume", "direction", "is_reversal", "tick_index_open",
    "tick_index_close", "normal_high", "normal_low", "nongap_open",
    "reverse_nongap_open", "reverse_fake_nongap_open",
    "reverse_high", "reverse_low", "fake_high", "fake_low")

  /** Output normalized to the golden schema: datetime as epoch µs. */
  private def normalized(wide: DataFrame): DataFrame =
    wide.withColumn("datetime_us", unix_micros(col("datetime")))
      .select(wideCols.map(col): _*)

  /** Compare per symbol in emission order, every column exactly. */
  private def assertMatchesGolden(wide: DataFrame, goldenPath: String): Unit = {
    val got = normalized(wide).collect()
    val want = spark.read.parquet(goldenPath)
      .withColumn("volume", col("volume").cast("long"))
      .withColumn("direction", col("direction").cast("int"))
      .withColumn("is_reversal", col("is_reversal").cast("int"))
      .withColumn("tick_index_open", col("tick_index_open").cast("long"))
      .withColumn("tick_index_close", col("tick_index_close").cast("long"))
      .select(wideCols.map(col): _*)
      .collect()
    val gotBySym = got.groupBy(_.getString(0))
    val wantBySym = want.groupBy(_.getString(0))
    assert(gotBySym.keySet == wantBySym.keySet, "symbol sets differ")
    for (sym <- wantBySym.keySet) {
      val g = gotBySym(sym)
      val w = wantBySym(sym)
      assert(g.length == w.length, s"brick count for '$sym': got ${g.length}, want ${w.length}")
      g.zip(w).zipWithIndex.foreach { case ((gr, wr), i) =>
        assert(gr == wr, s"symbol '$sym' brick $i:\n got $gr\nwant $wr")
      }
    }
  }

  private lazy val eurgbpWide: DataFrame = {
    val ticks = spark.read.parquet(ReferenceData.path("EURGBP_T1_cT.parquet"))
      .withColumnRenamed("bid", "close")
    Renko.fromTicks(ticks, 0.0003)
  }

  test("EURGBP 230k ticks, brick 0.0003: 161 bricks bit-exact") {
    assertMatchesGolden(eurgbpWide, s"$golden/eurgbp_wide.parquet")
  }

  test("US30 57.6k ticks, brick 5: 693 bricks bit-exact") {
    val ticks = spark.read.parquet(ReferenceData.path("US30_T1_cT.parquet"))
      .withColumnRenamed("bid", "close")
    assertMatchesGolden(Renko.fromTicks(ticks, 5), s"$golden/us30_wide.parquet")
  }

  test("events sf0.001 as ticks, brick 25: single series bit-exact") {
    // ts arrives as epoch-ns Long (nanosAsLong); exercises the ns unit path
    val ticks = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("ts").as("datetime"), col("value").as("close"))
    assertMatchesGolden(Renko.fromTicks(ticks, 25.0, tsUnit = "ns"),
      s"$golden/events_sf0001_b25_wide.parquet")
  }

  test("events sf0.001 multi-series (symbol = event_type): parallel scans bit-exact") {
    val ticks = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_type"), col("ts").as("datetime"), col("value").as("close"))
    val wide = Renko.fromTicks(ticks, 25.0, symbolCol = Some("event_type"), tsUnit = "ns")
    assertMatchesGolden(wide, s"$golden/events_sf0001_b25_bytype_wide.parquet")
  }

  test("fromSortedTicks zero-shuffle path: bit-exact on pre-ordered input") {
    val base = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val single = base.select(col("ts").as("datetime"), col("value").as("close"))
      .orderBy("datetime").coalesce(1)
    assertMatchesGolden(Renko.fromSortedTicks(single, 25.0, tsUnit = "ns"),
      s"$golden/events_sf0001_b25_wide.parquet")
    val multi = base.select(col("event_type"), col("ts").as("datetime"), col("value").as("close"))
      .orderBy("event_type", "datetime").coalesce(1)
    assertMatchesGolden(
      Renko.fromSortedTicks(multi, 25.0, symbolCol = Some("event_type"), tsUnit = "ns"),
      s"$golden/events_sf0001_b25_bytype_wide.parquet")
  }

  test("mode projections: column mapping and shape") {
    val wide = eurgbpWide
    for (mode <- RenkoModes.all) {
      val m = RenkoModes.project(wide, mode)
      assert(m.columns.toSeq == Seq("symbol", "datetime", "open", "high", "low",
        "close", "volume", "direction", "is_reversal", "tick_index_open", "tick_index_close"))
      val noUtils = RenkoModes.project(wide, mode, utilsColumns = false)
      assert(noUtils.columns.toSeq == Seq("symbol", "datetime", "open", "high", "low", "close", "volume"))
    }
    // wicks mode is the identity on (open, high, low)
    val w = RenkoModes.project(wide, "wicks").select("open", "high", "low", "close").collect()
    val direct = wide.select("open", "high", "low", "close").collect()
    assert(w.sameElements(direct))
    // nongap open differs from wicks open on some bricks (wick extends past open)
    val ng = RenkoModes.project(wide, "nongap").select("open").collect().map(_.getDouble(0))
    val wo = wide.select("open").collect().map(_.getDouble(0))
    assert(ng.zip(wo).exists { case (a, b) => a != b })
    assert(intercept[IllegalArgumentException](RenkoModes.project(wide, "bogus"))
      .getMessage.contains("options are valid"))
  }

  test("to_rws checkpoint projection: schema + head/tail slices") {
    val rws = ToRws.toRws(eurgbpWide, 0.0003)
    assert(rws.columns.toSet == Set("symbol", "open", "high", "low", "close", "volume",
      "direction", "is_reversal", "normal_high", "normal_low", "nongap_open",
      "reverse_nongap_open", "reverse_fake_nongap_open", "reverse_high", "reverse_low",
      "fake_high", "fake_low", "brick_size", "timestamp"))
    val n = rws.count()
    assert(n == 161)
    assert(ToRws.toRws(eurgbpWide, 0.0003, Some(5)).count() == 5)
    assert(ToRws.toRws(eurgbpWide, 0.0003, Some(-7)).count() == 7)
    // tail slice keeps the LAST rows by time
    val lastTs = rws.agg(max("timestamp")).collect()(0).getLong(0)
    val tail1 = ToRws.toRws(eurgbpWide, 0.0003, Some(-1)).collect()(0)
    assert(tail1.getAs[Long]("timestamp") == lastTs)
  }

  test("validation errors mirror the reference") {
    val ticks = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("ts").as("datetime"), col("value").as("close"))
    // every public batch entry point validates with the reference's messages
    val entryPoints: Seq[(String, (DataFrame, Double) => DataFrame)] = Seq(
      "fromTicks" -> ((d, b) => Renko.fromTicks(d, b)),
      "fromSortedTicks" -> ((d, b) => Renko.fromSortedTicks(d, b)),
      "fromTicksParallel" -> ((d, b) => Renko.fromTicksParallel(d, b)),
      "fromTicksParallel(symbolCol)" -> ((d, b) =>
        Renko.fromTicksParallel(d.withColumn("symbol", lit("s")), b, symbolCol = Some("symbol"))),
      "fromSortedTicksParallel" -> ((d, b) => Renko.fromSortedTicksParallel(d, b)))
    for ((name, scan) <- entryPoints) {
      def message(d: DataFrame, b: Double): String =
        intercept[IllegalArgumentException](scan(d, b)).getMessage
      assert(message(ticks, 0.0).contains("brick_size cannot be 'None' or '<= 0'"), name)
      assert(message(ticks.drop("close"), 1.0).contains("Column 'close' doesn't exist!"), name)
      assert(message(ticks.drop("datetime"), 1.0).contains("Column 'datetime' doesn't exist!"), name)
    }
    // divide_by parity (renkodf.py:44-45): validated, semantically ignored
    assert(intercept[IllegalArgumentException](
      Renko.fromTicks(ticks, 25.0, tsUnit = "ns", divideBy = 0))
      .getMessage.contains("divide_by cannot be 'None' or '<= 0'"))
    val dflt = Renko.fromTicks(ticks, 25.0, tsUnit = "ns")
    val div5 = Renko.fromTicks(ticks, 25.0, tsUnit = "ns", divideBy = 5)
    assert(dflt.collect().toSeq == div5.collect().toSeq,
      "divide_by is a capacity hint only — output must be identical")
  }
}
