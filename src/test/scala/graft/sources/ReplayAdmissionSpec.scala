package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The SupportsAdmissionControl contract of graft-replay: the stream must
  * honor the ENGINE-SUPPLIED ReadLimit (maxRows tighter or looser than the
  * configured pace, all-available, composite), and the provider must read
  * its options case-insensitively like every other DSv2 source.
  */
class ReplayAdmissionSpec extends SparkTestBase {

  private lazy val recording: String = {
    val dir = Files.createTempDirectory("graft-replay-adm").toFile
    val out = new java.io.File(dir, "rec").getAbsolutePath
    spark.range(1000).select(
      lit("s").as("symbol"), col("id").as("t"), col("id").cast("double").as("price"))
      .coalesce(1).write.parquet(out)
    new java.io.File(out).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get.getAbsolutePath
  }

  private def advance(stream: ReplayStream, from: Long, limit: ReadLimit): Long =
    stream.latestOffset(ReplayOffset(from), limit).asInstanceOf[ReplayOffset].row

  test("latestOffset derives the admitted count from the supplied ReadLimit") {
    val s = new ReplayStream(recording, rowsPerBatch = 100L)
    // engine-supplied maxRows overrides the configured pace, both ways
    assert(advance(s, 0L, ReadLimit.maxRows(10L)) == 10L)
    assert(advance(s, 0L, ReadLimit.maxRows(400L)) == 400L)
    // all-available admits the whole bounded recording
    assert(advance(s, 250L, ReadLimit.allAvailable()) == 1000L)
    // composite: the most restrictive row cap wins; minRows doesn't bound
    assert(advance(s, 0L,
      ReadLimit.compositeLimit(Array(ReadLimit.maxRows(7L), ReadLimit.minRows(3L, 0L)))) == 7L)
    // a min-only limit falls back to the configured pace
    assert(advance(s, 0L, ReadLimit.minRows(3L, 0L)) == 100L)
    // never past EOF
    assert(advance(s, 990L, ReadLimit.maxRows(100L)) == 1000L)
  }

  test("provider options are case-insensitive") {
    // lowercase option spelling must set the pace (not silently default):
    // at rowsperbatch=250 a 1000-row recording takes exactly 4 micro-batches
    val q = spark.readStream
      .format("graft.sources.TickReplaySource")
      .option("path", recording).option("rowsperbatch", "250")
      .load()
      .writeStream.format("memory").queryName("replay_ci")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    assert(spark.table("replay_ci").count() == 1000L)
    val sizes = q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toList
    assert(sizes == List(250L, 250L, 250L, 250L),
      s"lowercase rowsperbatch ignored: batch sizes $sizes")
  }

  /** A one-file recording of many small row groups: `parquet.block.size`
    * of 4 KB closes a row group every few hundred rows.
    */
  private lazy val manyGroups: (String, IndexedSeq[Long]) = {
    val dir = Files.createTempDirectory("graft-replay-groups").toFile
    val out = new java.io.File(dir, "rec").getAbsolutePath
    spark.range(20000).select(
      concat(lit("s"), (col("id") % 7).cast("string")).as("symbol"),
      (col("id") * 3).as("t"), (col("id") * 1.5).as("price"))
      .coalesce(1).write.option("parquet.block.size", "4096").parquet(out)
    val file = new java.io.File(out).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get.getAbsolutePath
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration()))
    val groups = try {
      import scala.jdk.CollectionConverters._
      r.getRowGroups.asScala.map(_.getRowCount).toIndexedSeq
    } finally r.close()
    (file, groups)
  }

  /** The recording's rows in file order, read by Spark's parquet source. */
  private def fileOrder(file: String): Seq[(String, Long, Double)] =
    spark.read.parquet(file).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))

  private def replayRange(file: String, start: Long, end: Long): Seq[(String, Long, Double)] =
    TickReplaySource.slice(TickReplaySource.fileOffsets(file), start, end).toSeq.flatMap { p =>
      val reader = new ReplayReaderFactory().createReader(p)
      try {
        val out = Seq.newBuilder[(String, Long, Double)]
        while (reader.next()) {
          val row = reader.get()
          out += ((row.getUTF8String(0).toString, row.getLong(1), row.getDouble(2)))
        }
        out.result()
      } finally reader.close()
    }

  test("replay seeks by row group: ranges cut at and inside row groups == the file order") {
    val (file, groups) = manyGroups
    assert(groups.size >= 8, s"the recording needs many row groups, got ${groups.size}")
    val total = groups.sum
    val want = fileOrder(file)
    assert(want.size == total)
    val borders = groups.scanLeft(0L)(_ + _)
    // stop points at row-group borders, one row either side of them, and
    // inside a row group; each restart resumes exactly at its stop point
    val cuts = Seq(borders(1), borders(1) - 1, borders(1) + 1, borders(3),
      borders(3) + groups(3) / 2, borders(groups.size - 1), total - 1)
    for (cut <- cuts) {
      assert(replayRange(file, 0L, cut) ++ replayRange(file, cut, total) == want,
        s"a replay stopped and restarted at row $cut differs from the file order")
    }
    // a range lying inside one row group, past several skipped ones
    val lo = borders(5) + 3
    assert(replayRange(file, lo, lo + 10) == want.slice(lo.toInt, lo.toInt + 10))
  }

  test("stream restarted at a row-group border and mid-group == the file order") {
    val (file, groups) = manyGroups
    val want = fileOrder(file)
    // the first run stops at a multiple of the pace: at a pace of the first
    // row group's rows, after one batch that is a row-group border; one
    // more row puts it inside the second row group
    for (rpb <- Seq(groups.head, groups.head + 1)) {
      val ckpt = Files.createTempDirectory("graft-replay-groups-ckpt").toFile.getAbsolutePath
      val sink = Files.createTempDirectory("graft-replay-groups-sink").toFile.getAbsolutePath
      def start(trigger: Option[org.apache.spark.sql.streaming.Trigger]) = {
        val w = spark.readStream.format("graft-replay")
          .option("path", file).option("rowsPerBatch", rpb.toString).load()
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt).outputMode("append")
        trigger.fold(w)(w.trigger).start()
      }
      val first = start(None)
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (first.recentProgress.count(_.numInputRows > 0) < 1 &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      } finally first.stop()
      val stopped = spark.read.parquet(sink).count()
      assert(stopped > 0 && stopped < want.size && stopped % rpb == 0,
        s"pace $rpb: the first run should stop on a batch boundary, committed $stopped")
      start(Some(org.apache.spark.sql.streaming.Trigger.AvailableNow())).awaitTermination()
      // t is unique and increases in file order, so it orders the sink
      val got = spark.read.parquet(sink).orderBy(col("t")).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(got == want, s"pace $rpb: the restarted replay differs from the file order")
    }
  }
}
