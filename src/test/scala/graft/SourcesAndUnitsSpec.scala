package graft

import graft.operators.Renko
import graft.streaming.{PriceEvent, RenkoWS}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Timestamp-unit handling (reference `ts_unit` ∈ D/s/ms/us/ns) and source
  * formats beyond parquet.
  */
class SourcesAndUnitsSpec extends SparkTestBase {

  test("toEpochMicros: every declared unit converts exactly") {
    import spark.implicits._
    val df = Seq((3L, 1.0)).toDF("t", "close")
    def us(unit: String): Long =
      df.select(Renko.toEpochMicros(LongType, col("t"), unit).as("us"))
        .collect()(0).getLong(0)
    assert(us("D") == 3L * 86400000000L)
    assert(us("s") == 3000000L)
    assert(us("ms") == 3000L)
    assert(us("us") == 3L)
    // ns truncates toward zero via exact decimal division
    val big = Seq((1704067207179575801L, 1.0)).toDF("t", "close")
    val got = big.select(Renko.toEpochMicros(LongType, col("t"), "ns").as("us"))
      .collect()(0).getLong(0)
    assert(got == 1704067207179575L)
    assert(intercept[Exception](us("h")).getMessage.contains("ts_unit"))
  }

  test("BNBUSDT ms-unit stream (reference crypto demo): bit-exact vs reference") {
    import spark.implicits._
    // aggTrades carry epoch-ms timestamps; brick 0.04 per the reference demo
    val events = spark.read.parquet(
        ReferenceData.path("BNBUSDT-aggTrades-2023-06_9000Rows.parquet"))
      .select(lit("BNB").as("symbol"), col("timestamp"), col("close").as("price"))
      .as[PriceEvent]
    val got = RenkoWS.replay(events, 0.04).toDF()
      .select(col("timestamp"), col("open"), col("high"), col("low"), col("close"),
        col("volume").cast("long").as("volume"), col("direction").cast("long").as("direction"),
        col("is_reversal").cast("long").as("is_reversal"))
      .collect()
    val want = spark.read.parquet("src/test/resources/golden/bnb_ws_full_ms.parquet")
      .select(col("timestamp"), col("open"), col("high"), col("low"), col("close"),
        col("volume").cast("long").as("volume"), col("direction").cast("long").as("direction"),
        col("is_reversal").cast("long").as("is_reversal"))
      .collect()
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) => assert(g == w, s"row $i") }
  }

  test("CSV tick source: same bricks as parquet") {
    val dir = Files.createTempDirectory("graft-csv").toString
    val evRaw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val base = evRaw
      .select(SparkTestBase.tsEpochUs(evRaw).as("datetime"), col("value").as("close"))
    base.coalesce(1).write.option("header", "true").csv(s"$dir/ticks")
    val csv = spark.read.option("header", "true")
      .schema(StructType(Seq(
        StructField("datetime", LongType), StructField("close", DoubleType))))
      .csv(s"$dir/ticks")
    val fromCsv = Renko.fromTicks(csv, 25.0, tsUnit = "us").collect()
    val fromParquet = Renko.fromTicks(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(col("ts").as("datetime"), col("value").as("close")),
      25.0, tsUnit = "ns").collect()
    assert(fromCsv.length == fromParquet.length && fromCsv.length == 874)
    fromCsv.zip(fromParquet).foreach { case (a, b) => assert(a == b) }
  }

  test("JSON tick source: same bricks as parquet") {
    val dir = Files.createTempDirectory("graft-json").toString
    val evRaw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    evRaw
      .select(SparkTestBase.tsEpochUs(evRaw).as("datetime"), col("value").as("close"))
      .coalesce(1).write.json(s"$dir/ticks")
    val json = spark.read
      .schema(StructType(Seq(
        StructField("datetime", LongType), StructField("close", DoubleType))))
      .json(s"$dir/ticks")
    assert(Renko.fromTicks(json, 25.0, tsUnit = "us").count() == 874)
  }

  test("ORC tick source: same bricks as parquet") {
    val dir = Files.createTempDirectory("graft-orc").toString
    val evRaw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    evRaw
      .select(SparkTestBase.tsEpochUs(evRaw).as("datetime"), col("value").as("close"))
      .write.orc(s"$dir/ticks")
    val fromOrc = Renko.fromTicks(spark.read.orc(s"$dir/ticks"), 25.0, tsUnit = "us").collect()
    val fromParquet = Renko.fromTicks(
      evRaw.select(SparkTestBase.tsEpochUs(evRaw).as("datetime"), col("value").as("close")),
      25.0, tsUnit = "us").collect()
    assert(fromOrc.length == 874)
    fromOrc.zip(fromParquet).foreach { case (a, b) => assert(a == b) }
  }

  test("partitioned brick-table sink: symbol partition pruning reaches the scan") {
    val dir = Files.createTempDirectory("graft-part").toString
    val ticks = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(pmod(col("user_id"), lit(8L)).cast("string").as("symbol"),
        col("ts").as("datetime"), col("value").as("close"))
    val bricks = Renko.fromTicks(ticks, 25.0, symbolCol = Some("symbol"), tsUnit = "ns")
    // the natural 100 TB layout for a brick store: partition by series
    bricks.write.partitionBy("symbol").parquet(s"$dir/bricks")
    val back = spark.read.parquet(s"$dir/bricks").filter(col("symbol") === "3")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(symbol"),
      s"symbol filter must prune partitions, not scan-and-filter:\n${plan.take(1500)}")
    // round trip is lossless for the pruned slice
    val expect = bricks.filter(col("symbol") === "3")
      .collect().map(_.toString).sorted
    assert(back.drop("symbol").columns.length == bricks.columns.length - 1)
    assert(back.count() == expect.length && expect.nonEmpty)
  }
}
