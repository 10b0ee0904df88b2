package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names, each either exact or
    // a prefix ending in `*` (`sim_topk_ivf*,text_bm25*`) — local iteration
    // only; with two args every query runs
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[Seq[String]])
      case Array(a, b, c) => (a, b, Some(c.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.SparkLogNoise.suppressAccumulatorUpdateErrors()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(selects(_, name))) }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    var dumped = 0
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // SENTINEL (un-zeroable round gate, VERDICT r13): what this run DID,
    // written last. An empty or missing correctness artifact downstream is
    // now diagnosable — "Verify never ran / died early" (no sentinel or
    // dumped < total) vs "compare layer lost the result" (sentinel says
    // every query dumped). Also echoed to stderr so the driver's captured
    // tail records it even if outDir is discarded.
    val sentinel =
      s"""{"queries_total": ${selected.size}, "dumped": $dumped,""" +
      s""" "failed": ${failed.sorted.map(q).mkString("[", ",", "]")},""" +
      s""" "sf_dir": ${q(sfDir)}}"""
    Files.writeString(Paths.get(s"$outDir/verify_sentinel.json"), sentinel)
    System.err.println(s"[verify-sentinel] $sentinel")
    if (failed.nonEmpty) System.err.println(
      s"[verify] ${failed.size} of ${selected.size} queries FAILED to dump")
    // rc stays 0 even with per-query failures: the sentinel carries the
    // failure list, and a nonzero rc could make the harness discard an
    // otherwise-usable partial dump.
    spark.stop()
  }

  /** Whether a name-list entry selects query `name`: an entry ending in
    * `*` is a prefix, any other entry the exact name.
    */
  private[graft] def selects(entry: String, name: String): Boolean =
    if (entry.endsWith("*")) name.startsWith(entry.dropRight(1)) else name == entry
}
