package graft.util

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Probe-time relation construction over partitioned index trees.
  *
  * A serving probe builds one parquet relation per live tree, and each
  * tree's bucket/list layout has hundreds of partition directories — above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (default 32),
  * so EVERY per-tree relation pays a distributed file-listing job whose
  * ~0.3 s scheduling overhead dwarfs the listing itself (probe-sized
  * metadata: hundreds of directories, one `listStatus` RPC each). Ten
  * epochs then cost ~3 s of pure job scheduling before a byte of postings
  * is read — measured 12x over a compacted probe.
  *
  * [[withDriverListing]] keeps the listing on the driver, where it is
  * sub-millisecond on local/HDFS metadata and one-RPC-per-directory on
  * object stores — the right trade until a single tree's partition count
  * reaches the tens of thousands, far past what auto-compaction allows to
  * accrete.
  *
  * CONCURRENCY + ISOLATION: probe relations are constructed in a cached
  * '''serving session''' — a `newSession()` clone of the caller's session
  * (same SparkContext, shared state and extensions, its own SQLConf) with
  * the discovery threshold raised once at creation. Probes stay lock-free
  * (the clone's conf is set once and never mutated again, so concurrent
  * probes have no set/restore window to interleave — the r12 redesign's
  * property), and the caller's session is left untouched: a
  * highly-partitioned NON-index read in the same session no longer
  * silently switches to serial driver-side listing just because a probe
  * ran first (ADVICE r13). File listing happens eagerly while the relation
  * is constructed inside the clone; the resulting plan fragment embeds the
  * already-listed `FileIndex` and composes/executes fine from the caller's
  * session — both share the one SparkContext.
  */
object ProbePlanning {

  private val Key = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Serving-session clone per caller session. Weak keys: a stopped /
    * collected caller session releases its clone. The lock guards only the
    * map lookup (ns-scale), never relation construction.
    */
  private val servingSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The cached serving session for `spark`: same SparkContext and shared
    * state, but an isolated SQLConf with driver-side partition discovery.
    */
  def servingSession(spark: SparkSession): SparkSession =
    servingSessions.synchronized {
      val cached = servingSessions.get(spark)
      if (cached != null) cached
      else {
        val s = spark.newSession()
        s.conf.set(Key, Int.MaxValue.toString)
        servingSessions.put(spark, s)
        s
      }
    }

  /** Plan a probe relation with driver-side listing: `f` receives the
    * serving session and must build its relations THROUGH it (reads via
    * the caller's `spark` would list distributed again). Lock-free under
    * arbitrary probe concurrency; the caller's session conf is never
    * mutated (see object doc).
    */
  def withDriverListing[A](spark: SparkSession)(f: SparkSession => A): A =
    f(servingSession(spark))

  /** The Spark schema of the parquet data under `dir` (a data directory or
    * a partitioned tree; partition columns are not included), from the
    * footer of its first part file read on the driver. `read.parquet(dir)
    * .schema` would run a schema-inference Spark job for the same footer.
    */
  def footerSchema(spark: SparkSession, dir: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def firstFile(p: Path): Option[FileStatus] = {
      val (dirs, files) = fs.listStatus(p).filter(visible).sortBy(_.getPath.getName)
        .partition(_.isDirectory)
      files.headOption.orElse(dirs.iterator.flatMap(d => firstFile(d.getPath)).nextOption())
    }
    val file = firstFile(root).getOrElse(
      throw new IllegalArgumentException(s"no parquet part file under $dir"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
