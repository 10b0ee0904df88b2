package graft

import graft.util.SmallPrefix
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Direct pins for the broadcast self-join prefix that replaced every
  * single-task window (r15): bit-equality against the window formulation
  * it displaced, on frames with gaps, duplicate-free keys, negative keys,
  * and single rows; and for the top-k rank, equality with `row_number` and
  * no exchange added above the top-k.
  */
class SmallPrefixSpec extends SparkTestBase {

  test("exclusivePrefix == rowsBetween(unboundedPreceding, -1) window, asc and desc") {
    import spark.implicits._
    val base = Seq((-7L, 3L, 10L), (0L, 5L, 1L), (2L, 1L, 4L), (9L, 2L, 7L), (40L, 4L, 2L))
      .toDF("k", "v1", "v2")
    for (desc <- Seq(false, true)) {
      val got = SmallPrefix.exclusivePrefix(
          base, "k", Map("v1" -> "p1", "v2" -> "p2"), desc = desc)
        .orderBy("k").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("p1"), r.getAs[Long]("p2")))
      val w = Window.orderBy(if (desc) col("k").desc else col("k").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = base
        .withColumn("p1", coalesce(sum(col("v1")).over(w), lit(0L)))
        .withColumn("p2", coalesce(sum(col("v2")).over(w), lit(0L)))
        .orderBy("k").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("p1"), r.getAs[Long]("p2")))
      assert(got.toSeq == want.toSeq, s"desc=$desc")
    }
    // single row: prefix is 0, never null
    val one = SmallPrefix.exclusivePrefix(
      Seq((1L, 5L)).toDF("k", "v"), "k", Map("v" -> "p")).collect().head
    assert(one.getAs[Long]("p") == 0L)
  }

  test("rankTopK == row_number over the same strict order, cut at k") {
    import spark.implicits._
    val base = Seq((10L, 3.0), (11L, 3.0), (12L, 9.0), (13L, 1.0), (14L, 9.0))
      .toDF("id", "score").repartition(3)
    val order = Seq(col("score").desc, col("id").asc)
    val w = Window.orderBy(order: _*)
    val want = base.withColumn("rank", row_number().over(w).cast("long"))
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(2)))
    for (k <- Seq(1, 3, 5, 9)) {
      val ranked = SmallPrefix.rankTopK(base, order, k)
      val got = ranked.collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(got.toSeq == want.toSeq.take(k), s"k=$k: rows in rank order, ranks dense from 1")
      // the ranking rides the top-k's single sorted partition: the only
      // exchange is the one the input repartition asked for
      val plan = ranked.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(exchanges.size == 1, s"k=$k: expected only the input's exchange:\n$plan")
    }
  }

  test("planning and running a bm25TopK logs no unpartitioned-window warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val docs = spark.read.parquet(s"${sys.props("user.home")}/testdata/sf0.001/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-rank-warn").toString
    graft.operators.TextIndex.write(docs, path)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("window-warnings", null, null, true, null) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("No Partition Defined for Window")) warnings.add(m)
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val top = graft.operators.TextIndex.bm25TopK(spark, path, Seq("dup", "vector"), 10)
      top.queryExecution.executedPlan
      assert(top.collect().nonEmpty, "the probe should find documents")
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender("window-warnings")
      ctx.updateLoggers()
      appender.stop()
    }
    assert(warnings.isEmpty, s"window warnings: ${warnings.size}")
  }
}
