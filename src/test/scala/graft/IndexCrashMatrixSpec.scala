package graft

import graft.operators.{IvfIndex, TextIndex}
import graft.util.IndexTrees
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row}

import scala.jdk.CollectionConverters._

/** The crash-point matrix of the epoch-tree store behind both persisted
  * indexes ([[IndexTrees]]), written once and run for the text and the IVF
  * index. Each state a crash can leave is built by hand through the
  * store's own path functions. In every state the index must answer as an
  * uninterrupted run does, and a following compact + sweep must leave the
  * same live trees (kinds, ordinals and row counts from `describe`) and the
  * same directory layout, compact ids masked.
  *
  * The uninterrupted run: write ids [0, 200), append [200, 260) as epoch
  * `batch-00000001`, delete [10, 30), append [260, 320) as epoch
  * `batch-00000002`.
  */
class IndexCrashMatrixSpec extends SparkTestBase {
  import spark.implicits._

  private trait Kind {
    def name: String
    def store(path: String): IndexTrees
    def write(ids: Range, path: String): Unit
    def append(ids: Range, path: String, epoch: String): Unit
    def delete(ids: Range, path: String): Unit
    def compact(path: String, sweep: Boolean): Unit
    def answer(path: String): Seq[Row]
    def describe(path: String): Seq[Row]
  }

  private val vocab = Seq("amber", "basil", "cobalt", "dune", "ember", "fjord",
    "garnet", "heron", "ivory", "jade", "kelp", "lumen")

  private object Text extends Kind {
    val name = "text"
    private def docs(ids: Range): DataFrame = ids.map { i =>
      (i.toLong, (0 until 3 + i % 5).map(j => vocab((i * 7 + j * 5 + i / 3) % vocab.size)).mkString(" "))
    }.toDF("doc_id", "text")
    def store(path: String): IndexTrees = TextIndex.trees(path)
    def write(ids: Range, path: String): Unit = TextIndex.write(docs(ids), path, nBuckets = 8)
    def append(ids: Range, path: String, epoch: String): Unit =
      TextIndex.append(docs(ids), path, epochId = Some(epoch))
    def delete(ids: Range, path: String): Unit = TextIndex.delete(docs(ids), path)
    def compact(path: String, sweep: Boolean): Unit =
      TextIndex.compact(spark, path, filesPerBucket = 1, sweep = sweep, keepLatest = 0,
        sweepGraceMs = 0L)
    def answer(path: String): Seq[Row] =
      TextIndex.bm25TopK(spark, path, Seq("amber", "cobalt", "ivory"), k = 15)
        .orderBy("rank").collect().toSeq
    def describe(path: String): Seq[Row] = TextIndex.describe(spark, path).collect().toSeq
  }

  private object Ivf extends Kind {
    val name = "ivf"
    private def vec(i: Int): Array[Float] =
      Array.tabulate(8)(d => (math.sin(i * 0.7 + d * 1.9) + 0.1 * d).toFloat)
    private def vecs(ids: Range): DataFrame =
      ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    private lazy val queries =
      (1 to 3).map(i => (-i.toLong, vec(1000 + i))).toDF("vec_id", "embedding")
    def store(path: String): IndexTrees = IvfIndex.trees(path)
    def write(ids: Range, path: String): Unit = IvfIndex.write(vecs(ids), path, nlist = 4)
    def append(ids: Range, path: String, epoch: String): Unit =
      IvfIndex.append(vecs(ids), path, epochId = Some(epoch))
    def delete(ids: Range, path: String): Unit = IvfIndex.delete(vecs(ids), path)
    def compact(path: String, sweep: Boolean): Unit =
      IvfIndex.compact(spark, path, filesPerList = 1, sweep = sweep, keepLatest = 0,
        sweepGraceMs = 0L)
    def answer(path: String): Seq[Row] =
      IvfIndex.probe(spark, path, queries, k = 5, nprobe = 4)
        .orderBy("query_id", "rank").collect().toSeq
    def describe(path: String): Seq[Row] = IvfIndex.describe(spark, path).collect().toSeq
  }

  private val Epoch2 = "batch-00000002"

  private def upToDelete(k: Kind, path: String): Unit = {
    k.write(0 until 200, path)
    k.append(200 until 260, path, "batch-00000001")
    k.delete(10 until 30, path)
  }

  private def fs(path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(k: Kind, state: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-crash-${k.name}-$state").toString

  /** Every directory under `path` but the cache stamps, compact ids masked. */
  private def layout(path: String): Seq[String] = {
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(java.nio.file.Files.isDirectory(_))
      .map(p => root.relativize(p).toString)
      .filterNot(r => r.isEmpty || r.startsWith("_state"))
      .map(_.replaceAll("compact-[0-9a-f]{8}", "compact-*"))
      .sorted
  }

  /** The uninterrupted run: answers before and after the last append, and
    * the compacted + swept index's trees and layout.
    */
  private final case class Reference(
      beforeEpoch2: Seq[Row], answer: Seq[Row], trees: Seq[Row], layout: Seq[String])

  private val references = scala.collection.mutable.Map.empty[String, Reference]

  private def reference(k: Kind): Reference = references.getOrElseUpdate(k.name, {
    val path = tmp(k, "reference")
    upToDelete(k, path)
    val before = k.answer(path)
    k.append(260 until 320, path, Epoch2)
    val answer = k.answer(path)
    k.compact(path, sweep = true)
    assert(k.answer(path) == answer, s"${k.name}: compaction must not change the answer")
    Reference(before, answer, k.describe(path), layout(path))
  })

  /** After the crash state at `path` answers as the uninterrupted run:
    * compact + sweep and compare the trees, the answer and the layout.
    */
  private def settles(k: Kind, path: String): Unit = {
    val ref = reference(k)
    k.compact(path, sweep = true)
    assert(k.describe(path) == ref.trees, s"${k.name}: live trees after compact + sweep")
    assert(k.answer(path) == ref.answer, s"${k.name}: answer after compact + sweep")
    assert(layout(path) == ref.layout, s"${k.name}: layout after compact + sweep")
  }

  for (k <- Seq(Text, Ivf)) {
    test(s"${k.name}: a base whose commit side did not land serves nothing; the rebuild restarts it") {
      val path = tmp(k, "base")
      val st = k.store(path)
      k.write(0 until 200, path)
      fs(path).delete(new Path(s"${st.treeDir(IndexTrees.Base, st.sides.last)}/_SUCCESS"), false)
      assert(st.liveTrees(spark).isEmpty, "an uncommitted base must not serve")
      upToDelete(k, path)
      k.append(260 until 320, path, Epoch2)
      assert(k.answer(path) == reference(k).answer)
      settles(k, path)
    }

    test(s"${k.name}: an epoch whose data side landed but commit side did not is invisible; its replay commits it") {
      val path = tmp(k, "epoch")
      val st = k.store(path)
      upToDelete(k, path)
      k.append(260 until 320, path, Epoch2)
      fs(path).delete(new Path(s"${st.treeDir(Epoch2, st.sides.last)}/_SUCCESS"), false)
      assert(new java.io.File(st.treeDir(Epoch2, st.sides.head)).exists, "the data side stays on disk")
      assert(k.answer(path) == reference(k).beforeEpoch2, "an uncommitted epoch must not serve")
      k.append(260 until 320, path, Epoch2)
      assert(k.answer(path) == reference(k).answer)
      settles(k, path)
    }

    test(s"${k.name}: an orphan compact epoch without its manifest is invisible and swept") {
      val path = tmp(k, "orphan")
      val st = k.store(path)
      upToDelete(k, path)
      k.append(260 until 320, path, Epoch2)
      val orphan = "compact-0bad0bad"
      st.sides.foreach { side =>
        FileUtil.copy(fs(path), new Path(st.treeDir(IndexTrees.Base, side)),
          fs(path), new Path(st.treeDir(orphan, side)), false, spark.sparkContext.hadoopConfiguration)
      }
      assert(!fs(path).exists(st.manifest(orphan)))
      assert(k.answer(path) == reference(k).answer, "an orphan compact epoch must not serve")
      settles(k, path)
      assert(!new java.io.File(st.epochDir(orphan)).exists, "the orphan is swept")
    }

    test(s"${k.name}: a sweep interrupted after the manifest leaves the replaced trees invisible") {
      val path = tmp(k, "sweep")
      val st = k.store(path)
      upToDelete(k, path)
      k.append(260 until 320, path, Epoch2)
      k.compact(path, sweep = false)
      assert(new java.io.File(st.treeDir(IndexTrees.Base, st.sides.head)).exists)
      assert(k.answer(path) == reference(k).answer, "replaced trees must not serve beside the compact tree")
      // the sweep died after deleting the base's first side: for text, the
      // postings are gone and the meta is left
      fs(path).delete(new Path(st.treeDir(IndexTrees.Base, st.sides.head)), true)
      assert(k.answer(path) == reference(k).answer)
      settles(k, path)
      st.sides.foreach(side =>
        assert(!new java.io.File(st.treeDir(IndexTrees.Base, side)).exists, s"base $side swept"))
    }

    test(s"${k.name}: a replayed deterministic epoch id rewrites its own epoch") {
      val path = tmp(k, "replay")
      val st = k.store(path)
      upToDelete(k, path)
      k.append(260 until 320, path, Epoch2)
      val epochs = st.rawEpochs(spark)
      k.append(260 until 320, path, Epoch2)
      assert(st.rawEpochs(spark) == epochs, "a replay adds no epoch")
      assert(k.answer(path) == reference(k).answer, "a replay must not double-serve its batch")
      settles(k, path)
    }
  }
}
