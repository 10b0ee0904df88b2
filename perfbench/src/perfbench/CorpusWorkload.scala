package perfbench

import graft.operators.{IvfIndex, TextIndex}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** `corpus_index_epochs`: a text index and an IVF index, each bootstrapped
  * in set-up with a `write`. A pass starts from a copy of that state and
  * commits one append epoch and one delete epoch to each index; after every
  * commit one client runs the probe mix in a closed loop: one `bm25TopK`
  * after a text commit, one batch `probe` of `NQueryVecs` vectors after a
  * vector commit.
  */
final class CorpusWorkload(ctx: Ctx, scale: Int = 1) extends Workload {
  import CorpusWorkload._
  private val spark = ctx.spark
  import spark.implicits._
  val spec: CorpusSpec = CorpusSpec(ctx.seed, baseDocs = 2000 / scale, epochDocs = 200 / scale,
    epochs = 1, deleteDocs = 100 / scale, vocab = 3000, baseVecs = 4000 / scale,
    epochVecs = 400 / scale, deleteVecs = 200 / scale, dim = 32)
  private val dir = s"${ctx.work}/corpus"
  private val base = s"$dir/idx/base"
  private val queries = Seq(spec.queryTerms(0), spec.queryTerms(1))
  private lazy val queryVecs: DataFrame = spec.queryVectors(NQueryVecs).toDF("vec_id", "embedding")
  private var freshBm25: Checks.Bm25 = _
  private var exactCos: Seq[Map[Long, Double]] = _
  private val commitS = new ArrayBuffer[(String, Double)]()
  private val probeS = new ArrayBuffer[(String, Double)]()
  private val recall = new ArrayBuffer[Double]()
  private var indexFiles = 0L
  private var indexBytes = 0L

  /** A pass is one round of 8 slow calls; the median of two keeps one
    * disturbed pass from setting a run's figures. */
  override def minPasses: Int = 2

  /** Rows one pass commits: the append epoch and the delete epoch. */
  override def inputRows: Long = (spec.docIds(spec.epochs).size + spec.vecIds(spec.epochs).size +
    spec.deletedDocIds.size + spec.deletedVecIds.size).toLong

  private def docs(b: String): DataFrame = spark.read.parquet(s"$dir/docs/batch=$b")
  private def vecs(b: String): DataFrame = spark.read.parquet(s"$dir/vecs/batch=$b")

  override def setup(): Unit = {
    spec.write(spark, dir)
    TextIndex.write(docs("0"), s"$base/text", nBuckets = NBuckets)
    IvfIndex.write(vecs("0"), s"$base/ivf", nlist = NList)
    // expected answers over the final live corpus: bm25 from a fresh build
    // of the live documents, cosines computed here from the vectors
    val deadDocs = spec.deletedDocIds.toSet
    val live = (0 to spec.epochs).map(b => docs(b.toString)).reduce(_ union _)
      .filter(!$"doc_id".isin(deadDocs.toSeq: _*))
    val fresh = s"${ctx.work}/fresh-text"
    TextIndex.write(live, fresh, nBuckets = NBuckets)
    freshBm25 = Checks.bm25Rows(TextIndex.bm25TopK(spark, fresh, queries(1), K).collect())
    val deadVecs = spec.deletedVecIds.toSet
    val liveVecs = (0 to spec.epochs).flatMap(spec.vecIds).filterNot(deadVecs).map(id => id -> spec.vector(id))
    exactCos = spec.queryVectors(NQueryVecs).map { case (_, q) =>
      liveVecs.map { case (id, v) => id -> cosine(q, v) }.toMap
    }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def probeRows(rows: Array[Row]): Seq[IndexedSeq[(Long, Double)]] = {
    val byQ = rows.toIndexedSeq.map(r => (r.getAs[Number]("query_id").longValue(), r.getAs[Number]("rank").intValue(),
      r.getAs[Number]("neighbor_id").longValue(), r.getAs[Number]("cos_sim").doubleValue())).groupBy(_._1)
    (1 to NQueryVecs).map(i => byQ.getOrElse(-i.toLong, IndexedSeq.empty).sortBy(_._2).map(x => (x._3, x._4)))
  }

  override def pass(id: Int): PassOut = {
    val root = s"$dir/idx/p$id"
    FileUtils.copyDirectory(new File(base), new File(root))
    val text = s"$root/text"
    val ivf = s"$root/ivf"
    val probes = new ArrayBuffer[Double]()
    var ops = 0
    def timed(kind: String, name: String)(body: => Unit): Double = {
      val t = System.nanoTime()
      Trace.span(name)(body)
      ops += 1
      val s = (System.nanoTime() - t) / 1e9
      if (Trace.on) (if (kind == "commit") commitS else probeS) += name -> s
      s
    }
    def bm25(q: Int): Checks.Bm25 = {
      var rows: Array[Row] = null
      probes += timed("probe", "text.bm25") { rows = TextIndex.bm25TopK(spark, text, queries(q), K).collect() }
      Checks.bm25Rows(rows)
    }
    def probe(): Seq[IndexedSeq[(Long, Double)]] = {
      var rows: Array[Row] = null
      probes += timed("probe", "ivf.probe") { rows = IvfIndex.probe(spark, ivf, queryVecs, K, nprobe = NProbe).collect() }
      probeRows(rows)
    }
    val e = spec.epochs.toString
    timed("commit", "text.append")(TextIndex.append(docs(e), text))
    val bm25Appended = bm25(0)
    timed("commit", "ivf.append")(IvfIndex.append(vecs(e), ivf))
    val probeAppended = probe()
    timed("commit", "text.delete")(TextIndex.delete(docs("deleted"), text))
    val bm25Final = bm25(1)
    timed("commit", "ivf.delete")(IvfIndex.delete(vecs("deleted"), ivf))
    val probeFinal = probe()
    indexFiles = FileUtils.listFiles(new File(root), null, true).size
    indexBytes = FileUtils.sizeOfDirectory(new File(root))
    PassOut(probes.toSeq, ops,
      (Seq(bm25Appended, bm25Final).map(_.size) ++ Seq(probeAppended, probeFinal).map(_.map(_.size).sum)).sum.toLong,
      Answers(root, Seq(bm25Appended, bm25Final), probeAppended, probeFinal))
  }

  override def check(out: PassOut): Seq[String] = {
    val a = out.payload.asInstanceOf[Answers]
    val full = fullProbe(s"${a.root}/ivf")
    if (Trace.on) {
      // useful results per attempt at the workload's nprobe, after the last epoch
      recall ++= a.probeFinal.zip(exactCos).map { case (got, exact) =>
        val top = exact.toSeq.sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
        got.count(x => top(x._1)).toDouble / K
      }
    }
    checkAnswers(a, full)
  }

  /** A probe of every IVF list: an exact top-k over the live vectors. */
  def fullProbe(ivf: String): Seq[IndexedSeq[(Long, Double)]] =
    probeRows(IvfIndex.probe(spark, ivf, queryVecs, K, nprobe = NList).collect())

  /** Check 4 on a pass's answers and a full probe of its final state. */
  def checkAnswers(a: Answers, full: Seq[IndexedSeq[(Long, Double)]]): Seq[String] = {
    val deadDocs = spec.deletedDocIds.toSet
    val deadVecs = spec.deletedVecIds.toSet
    val f = new ArrayBuffer[String]()
    a.bm25.zipWithIndex.foreach { case (b, i) => f ++= Checks.bm25Ordered(s"bm25 answer $i", b) }
    // after the delete epoch: the epoch-built text index answers as a fresh
    // build of the live documents, and no deleted id comes back
    f ++= Checks.bm25Equal(s"bm25 after the delete, query ${queries(1).mkString(" ")}", freshBm25, a.bm25.last)
    f ++= Checks.noDeleted("bm25 after the delete", a.bm25.last.map(_._1), deadDocs)
    f ++= Checks.noDeleted("probe after the delete", a.probeFinal.flatMap(_.map(_._1)), deadVecs)
    full.zip(exactCos).zipWithIndex.foreach { case ((got, exact), i) =>
      f ++= Checks.topKExact(s"full probe, query vector $i", K, exact, got)
      f ++= Checks.noDeleted(s"full probe, query vector $i", got.map(_._1), deadVecs)
    }
    f.toSeq
  }

  override def afterPass(out: PassOut): Unit =
    FileUtils.deleteDirectory(new File(out.payload.asInstanceOf[Answers].root))

  override def drainSource(): Unit =
    for (b <- Seq(spec.epochs.toString, "deleted")) {
      docs(b).write.format("noop").mode("overwrite").save()
      vecs(b).write.format("noop").mode("overwrite").save()
    }

  override def layerLedger(): Map[String, Double] = {
    def p50(xs: Seq[(String, Double)], name: String): Double = Stats.median(xs.filter(_._1 == name).map(_._2))
    val jobs = Trace.all.filter(s => s.pass >= 0 && s.parent == -1).groupBy(_.name)
      .map { case (n, ss) => n -> Stats.median(ss.map(_.counters.getOrElse("spark.jobs", 0.0))) }
    def jobsOf(names: Seq[String]): Double = Stats.median(names.flatMap(jobs.get))
    Map(
      "commit_p50_s" -> Stats.median(commitS.map(_._2).toSeq),
      "probe_p50_s" -> Stats.median(probeS.map(_._2).toSeq),
      "text.append_s" -> p50(commitS.toSeq, "text.append"),
      "text.delete_s" -> p50(commitS.toSeq, "text.delete"),
      "ivf.append_s" -> p50(commitS.toSeq, "ivf.append"),
      "ivf.delete_s" -> p50(commitS.toSeq, "ivf.delete"),
      "text.bm25_s" -> p50(probeS.toSeq, "text.bm25"),
      "ivf.probe_s" -> p50(probeS.toSeq, "ivf.probe"),
      "spark.jobs_per_commit" -> jobsOf(Seq("text.append", "ivf.append", "text.delete", "ivf.delete")),
      "spark.jobs_per_probe" -> jobsOf(Seq("text.bm25", "ivf.probe")),
      "index.files" -> indexFiles.toDouble,
      "index.bytes" -> indexBytes.toDouble,
      "ivf.recall_at_k" -> Stats.median(recall.toSeq),
      "input.docs" -> (0 to spec.epochs).map(spec.docIds(_).size).sum.toDouble,
      "input.vectors" -> (0 to spec.epochs).map(spec.vecIds(_).size).sum.toDouble)
  }
}

/** What a pass answered: bm25 after its append and after its delete, and the
  * probe answers after each. */
final case class Answers(root: String, bm25: Seq[Checks.Bm25],
    probeAppended: Seq[IndexedSeq[(Long, Double)]], probeFinal: Seq[IndexedSeq[(Long, Double)]])

object CorpusWorkload {
  val NQueryVecs = 8
  val K = 10
  val NBuckets = 16
  val NList = 16
  val NProbe = 4
}
