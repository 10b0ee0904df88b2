package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** `graft-replay`: a DataSource V2 micro-batch source that replays a
  * RECORDED tick table in its stored row order at a configurable
  * rows-per-batch pace — the online counterpart of the reference's live
  * tick feed (`test/test_ws.py` replays a recorded file event by event),
  * and a capability no built-in source has: the file source paces by whole
  * files and the `rate` source synthesizes rows; neither can drip a real
  * recording through a streaming pipeline with row-level, restart-safe
  * offsets.
  *
  * Contract: `path` names the recording — one parquet file, a
  * comma-separated list of files, or a directory (its `*.parquet` files
  * taken in name order) — with columns `(symbol: string, t: long,
  * price: double)`; a multi-file recording replays as the concatenation of
  * its files in sorted order. `rowsPerBatch` rows are admitted per
  * micro-batch. Offsets are plain GLOBAL row positions over the static
  * recording (cumulative across files), so recovery from a checkpoint
  * resumes exactly — the engine re-plans `[start, end)` ranges, the stream
  * maps them back onto per-file slices, and gets identical rows. A reader
  * seeks to its range start by skipping whole row groups (footer row
  * counts) and decoding only the row group that holds the start, so a
  * replay is linear in the recording length once its row groups are
  * smaller than a micro-batch. It is a REPLAY/testing source, not an
  * ingest path.
  */
class TickReplaySource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-replay"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TickReplaySource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // DSv2 options are case-insensitive everywhere else (inferSchema already
    // receives a CaseInsensitiveStringMap); a raw .get here would make
    // .option("rowsperbatch", ...) silently fall back to the default
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null && path.nonEmpty, "graft-replay requires a 'path' option")
    val rpb = Option(opts.get("rowsPerBatch")).map(_.toLong).getOrElse(1000L)
    require(rpb > 0, s"rowsPerBatch must be > 0, got $rpb")
    new ReplayTable(path, rpb)
  }
}

object TickReplaySource {
  val Schema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("price", DoubleType, nullable = false)))

  /** Expand the `path` option into the recording's ordered file list:
    * comma-separated entries, each a parquet file or a directory whose
    * `*.parquet` files are taken in name order (name order IS replay order
    * — recordings are written as sorted part files).
    */
  private[sources] def resolveFiles(path: String): Seq[String] = {
    val files = path.split(",").map(_.trim).filter(_.nonEmpty).toSeq.flatMap { entry =>
      val f = new java.io.File(entry)
      if (f.isDirectory)
        f.listFiles()
          .filter(x => x.isFile && x.getName.endsWith(".parquet"))
          .map(_.getAbsolutePath).sorted.toSeq
      else Seq(entry)
    }
    require(files.nonEmpty, s"graft-replay: no parquet files at '$path'")
    files
  }

  /** Each file of the recording with its cumulative global start offset,
    * its row count and its row groups as (file offset, row count), from
    * the footers — the offset map a multi-file recording replays through.
    */
  private[sources] def fileOffsets(path: String): Seq[ReplayFile] = {
    val conf = new Configuration()
    var cum = 0L
    resolveFiles(path).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      val groups = try r.getRowGroups.asScala.map(g => (g.getStartingPos, g.getRowCount)).toIndexedSeq
        finally r.close()
      val entry = ReplayFile(f, cum, groups.map(_._2).sum, groups)
      cum += entry.rows
      entry
    }
  }

  /** Map a global `[start, end)` row range onto per-file partitions, each
    * told where its reader seeks to: the row group holding its start.
    */
  private[sources] def slice(
      offsets: Seq[ReplayFile], start: Long, end: Long): Array[InputPartition] =
    offsets.collect {
      case f if f.start < end && f.start + f.rows > start =>
        val from = math.max(0L, start - f.start)
        // rows before each row group; `g` holds `from` (from < f.rows)
        val before = f.groups.scanLeft(0L)(_ + _._2)
        val g = before.lastIndexWhere(_ <= from)
        ReplayPartition(f.path, from, math.min(f.rows, end - f.start),
          f.groups(g)._1, before(g)): InputPartition
    }.toArray
}

/** A recording file: its global start offset, row count and row groups as
  * (file offset, row count).
  */
private[sources] case class ReplayFile(
    path: String, start: Long, rows: Long, groups: IndexedSeq[(Long, Long)])

private[sources] class ReplayTable(path: String, rowsPerBatch: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft-replay($path)"
  override def schema(): StructType = TickReplaySource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = TickReplaySource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ReplayStream(path, rowsPerBatch)
        // batch form: one partition per recording file (parallel analytics
        // re-reads recordings through the ordinary parquet source — this
        // path exists so the same format string works in spark.read for
        // spot checks)
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            TickReplaySource.fileOffsets(path)
              .map(f => ReplayPartition(f.path, 0L, f.rows, 0L, 0L): InputPartition)
              .toArray
          override def createReaderFactory(): PartitionReaderFactory =
            new ReplayReaderFactory
        }
      }
    }
}

/** Row-position offset over the static recording. */
private[sources] case class ReplayOffset(row: Long) extends Offset {
  override def json: String = row.toString
}

private[sources] class ReplayStream(path: String, rowsPerBatch: Long)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  // the recording's offset map: (file, global start offset, row count),
  // cumulative in sorted file order — resolved once, the recording is static
  private lazy val offsets: Seq[ReplayFile] =
    TickReplaySource.fileOffsets(path)
  private lazy val totalRows: Long = offsets.map(_.rows).sum

  override def initialOffset(): Offset = ReplayOffset(0L)
  override def deserializeOffset(json: String): Offset = ReplayOffset(json.trim.toLong)

  // STATELESS pacing via admission control: the engine hands us the current
  // start offset, so the next admitted position is a pure function of it —
  // a restart from any checkpoint resumes exactly, with no in-memory
  // pointer to regress (the plain latestOffset() form had exactly that bug:
  // a restarted query's fresh instance re-admitted from row 0).
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(rowsPerBatch)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ReplayOffset].row
    ReplayOffset(math.min(totalRows, s + admitted(limit)))
  }
  // honor the ENGINE-SUPPLIED limit, not just our default: trigger wrappers
  // (Trigger.AvailableNow and friends) hand composite or all-available
  // limits, and the SupportsAdmissionControl contract is that we obey them
  private def admitted(limit: ReadLimit): Long = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxRows}
    limit match {
      case m: ReadMaxRows => m.maxRows()
      case _: ReadAllAvailable => totalRows // "everything": bounded recording
      case c: CompositeReadLimit =>
        // the most restrictive row bound wins; min-rows limits don't bound
        val caps = c.getReadLimits.collect { case m: ReadMaxRows => m.maxRows() }
        if (caps.nonEmpty) caps.min else rowsPerBatch
      case _ => rowsPerBatch // ReadMinRows etc.: fall back to configured pace
    }
  }
  override def reportLatestOffset(): Offset = ReplayOffset(totalRows)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-replay paces via SupportsAdmissionControl.latestOffset(start, limit)")
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ReplayOffset].row
    val e = end.asInstanceOf[ReplayOffset].row
    if (e <= s) Array.empty else TickReplaySource.slice(offsets, s, e)
  }
  override def createReaderFactory(): PartitionReaderFactory = new ReplayReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Rows `[start, end)` of one file; the reader opens at file offset
  * `seekPos`, the row group whose first row is `seekRow`.
  */
private[sources] case class ReplayPartition(
    path: String, start: Long, end: Long, seekPos: Long, seekRow: Long)
    extends InputPartition

private[sources] class ReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ReplayPartition]
    new PartitionReader[InternalRow] {
      // seek to the range start: the row groups before it are skipped by
      // opening at the file offset of the row group holding it, and only
      // that row group is decoded up to it — a micro-batch costs its own
      // rows, not the recording's prefix
      private val reader: ParquetReader[Group] =
        ParquetReader.builder(new GroupReadSupport(), new Path(p.path))
          .withFileRange(p.seekPos, Long.MaxValue).build()
      private var pos = p.seekRow // file row of the next record
      private var current: Group = _
      while (pos < p.start && { current = reader.read(); current != null }) pos += 1

      override def next(): Boolean = {
        if (pos >= p.end) return false
        current = reader.read()
        if (current == null) return false
        pos += 1
        true
      }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(current.getString("symbol", 0)),
        current.getLong("t", 0),
        current.getDouble("price", 0)))
      override def close(): Unit = reader.close()
    }
  }
}
