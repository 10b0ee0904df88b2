package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import scala.collection.mutable.ArrayBuffer

/** Shows that every output check can fail: each check must accept the
  * program's true output and reject a corrupted copy of it. Runs small
  * versions of the workloads once each. With a reference wide table and
  * its input ticks, it also checks the benchmark's own fold against the
  * reference's output.
  */
object SelfTest {

  def run(spark: SparkSession, work: String, golden: Option[(String, String)]): Boolean = {
    val results = new ArrayBuffer[(String, Boolean, String)]()
    def accepts(name: String, f: Seq[String]): Unit =
      results += ((s"accepts $name", f.isEmpty, f.headOption.getOrElse("")))
    def rejects(name: String, f: Seq[String]): Unit =
      results += ((s"rejects $name", f.nonEmpty, f.headOption.getOrElse("(no failure reported)")))
    val ctx = Ctx(spark, work, 7L, spark.sparkContext.defaultParallelism)

    // ---- batch: checks 1 and 2 on the seven mode views and the wide table
    val batch = new BatchWorkload(ctx.copy(work = s"$work/batch"), multi = true, ticksOverride = 20000L)
    batch.setup()
    val wide = batch.wide().cache()
    val views = graft.operators.RenkoModes.all.map { m =>
      val v = graft.operators.RenkoModes.project(wide, m)
      m -> Checks.bricks(v.columns.toSeq, v.collect())
    }
    val wideT = Checks.bricks(wide.columns.toSeq, wide.collect())
    accepts("the program's batch output", batch.checkTables(views, Some(wideT)))
    val (sym, xs) = wideT.toSeq.sortBy(_._1).find(_._2.size > 10).get
    val i = xs.size / 2
    val ordered = Checks.emissionOrder(xs)
    def withSeries(s: Checks.Series, ys: IndexedSeq[RefBrick]): Checks.Series = s.updated(sym, ys)
    def inViews(f: IndexedSeq[RefBrick] => IndexedSeq[RefBrick]): Seq[(String, Checks.Series)] =
      views.map { case (m, v) => m -> withSeries(v, f(Checks.emissionOrder(v(sym)))) }
    val moved = (ys: IndexedSeq[RefBrick]) => ys.updated(i, ys(i).copy(close = ys(i).close + BatchWorkload.BrickSize))
    rejects("a close moved by one brick (wide table vs fold)", Checks.equalsFold("wide", batch.expected, withSeries(wideT, moved(ordered)), Checks.WideCols))
    rejects("a close moved by one brick (brick-step property)", Checks.brickSteps("wicks", withSeries(wideT, moved(ordered)), BatchWorkload.BrickSize))
    rejects("a close moved by one brick (all batch checks)", batch.checkTables(inViews(moved), None))
    val dropped = (ys: IndexedSeq[RefBrick]) => ys.patch(i, Nil, 1)
    rejects("one brick dropped (wide table vs fold)", Checks.equalsFold("wide", batch.expected, withSeries(wideT, dropped(ordered)), Checks.WideCols))
    rejects("one brick dropped (brick-step property)", Checks.brickSteps("wicks", withSeries(wideT, dropped(ordered)), BatchWorkload.BrickSize))
    rejects("one brick dropped from one view only", Checks.viewMatchesWide("normal", views.head._2, withSeries(views(1)._2, dropped(Checks.emissionOrder(views(1)._2(sym))))))
    rejects("a wick inside the body", Checks.wicksEnclose(withSeries(views.head._2,
      Checks.emissionOrder(views.head._2(sym)).updated(i, { val b = Checks.emissionOrder(views.head._2(sym))(i); b.copy(high = math.min(b.open, b.close)) }))))
    rejects("a datetime earlier than its predecessor's", Checks.timeOrder("wicks", withSeries(views.head._2,
      Checks.emissionOrder(views.head._2(sym)).updated(i, { val b = Checks.emissionOrder(views.head._2(sym))(i); b.copy(ts = b.ts - 3600000000L) }))))
    wide.unpersist(blocking = true)

    // ---- stream: checks 1-3 on the union of both legs
    val stream = new StreamWorkload(ctx.copy(work = s"$work/stream"), rows = 32000L)
    stream.setup()
    val sp = stream.pass(0)
    val (dir, committed) = sp.payload.asInstanceOf[(String, Int)]
    val union = stream.sinkRows(dir)
    accepts("the program's stream output across a restart", stream.checkUnion(committed, union))
    val (ssym, sxs) = union.toSeq.sortBy(_._1).find(_._2.size > 10).get
    val sOrdered = Checks.emissionOrder(sxs)
    rejects("one brick duplicated across the restart", stream.checkUnion(committed,
      union.updated(ssym, sOrdered.patch(sOrdered.size / 2, Seq(sOrdered(sOrdered.size / 2)), 0))))
    rejects("one brick lost across the restart", stream.checkUnion(committed,
      union.updated(ssym, sOrdered.patch(sOrdered.size / 2, Nil, 1))))
    rejects("a stream close moved by one brick", stream.checkUnion(committed, union.updated(ssym,
      sOrdered.updated(3, sOrdered(3).copy(close = sOrdered(3).close + StreamWorkload.BrickSize)))))
    stream.afterPass(sp)

    // ---- corpus: check 4
    val corpus = new CorpusWorkload(ctx.copy(work = s"$work/corpus"), scale = 4)
    corpus.setup()
    val cp = corpus.pass(0)
    val a = cp.payload.asInstanceOf[Answers]
    val full = corpus.fullProbe(s"${a.root}/ivf")
    accepts("the program's index answers", corpus.checkAnswers(a, full))
    val deadVec = corpus.spec.deletedVecIds.head
    val deadDoc = corpus.spec.deletedDocIds.head
    rejects("a deleted id put back into a probe answer", corpus.checkAnswers(
      a.copy(probeFinal = a.probeFinal.updated(0, a.probeFinal(0).updated(0, (deadVec, a.probeFinal(0)(0)._2)))), full))
    rejects("a deleted id put back into a bm25 answer", corpus.checkAnswers(
      a.copy(bm25 = a.bm25.init :+ a.bm25.last.updated(0, a.bm25.last(0).copy(_1 = deadDoc))), full))
    rejects("bm25 scores rising with rank", corpus.checkAnswers(
      a.copy(bm25 = a.bm25.updated(0, a.bm25(0).reverse.zipWithIndex.map { case (r, j) => r.copy(_2 = j + 1) })), full))
    rejects("an exact neighbour missing from the full probe", corpus.checkAnswers(a,
      full.updated(0, full(0).tail :+ ((Long.MaxValue, -1.0)))))
    corpus.afterPass(cp)

    // ---- the fold against the reference's own output
    golden.foreach { case (widePath, ticksPath) =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val t = spark.read.parquet(ticksPath).select(col("ts"), col("value")).collect()
        .map(r => (r.get(0) match {
          case ns: java.lang.Long => ns / 1000L // epoch ns read as a long
          case ts => Checks.micros(ts)
        }, r.getAs[Number](1).doubleValue())).sortBy(_._1)
      val fold = RefFold.batch(t.map(_._1), t.map(_._2), 0, t.length, 25.0)
      val g = spark.read.parquet(widePath)
      accepts("the reference's wide table (brick 25) with the benchmark's fold",
        Checks.equalsFold("reference", Map("" -> fold), Checks.bricks(g.columns.toSeq, g.collect()), Checks.WideCols))
    }

    results.foreach { case (name, ok, why) =>
      System.err.println(f"${if (ok) "ok  " else "FAIL"} $name%-72s ${why.take(160)}")
    }
    val bad = results.count(!_._2)
    System.err.println(s"self-test: ${results.size - bad} of ${results.size} cases as expected")
    bad == 0
  }
}
