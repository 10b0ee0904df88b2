package graft

import graft.operators.{Renko, RenkoModes, Tick}
import graft.streaming.{PriceEvent, RenkoWS}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Degenerate inputs the reference either crashes on or never sees. */
class EdgeCaseSpec extends SparkTestBase {

  import spark.implicits._

  private def ticksDf(rows: Seq[(Long, Double)]) =
    rows.toDF("datetime", "close")

  test("empty input -> empty output, correct schema") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("datetime", LongType), StructField("close", DoubleType))))
    val out = Renko.fromTicks(empty, 1.0, tsUnit = "us")
    assert(out.columns.toSeq == Renko.wideColumns)
    assert(out.count() == 0)
    assert(RenkoModes.project(out, "nongap").count() == 0)
  }

  test("single tick / constant price -> no bricks") {
    assert(Renko.fromTicks(ticksDf(Seq((1L, 10.0))), 1.0, tsUnit = "us").count() == 0)
    val const = (1L to 100L).map(i => (i, 42.5))
    assert(Renko.fromTicks(ticksDf(const), 1.0, tsUnit = "us").count() == 0)
  }

  test("monotone ramp: drop-first removes the first label only") {
    val ramp = (1L to 50L).map(i => (i, 100.0 + i))
    val out = Renko.fromTicks(ticksDf(ramp), 1.0, tsUnit = "us")
    val kept = Renko.fromTicks(ticksDf(ramp), 1.0, tsUnit = "us", dropFirst = false)
    assert(kept.count() == out.count() + 1)
  }

  test("massive gap in one tick emits unbounded bricks (no reference capacity crash)") {
    // the reference IndexErrors past len/divide_by rows (SURVEY §1.4);
    // 2 ticks -> 9999 bricks must work here
    val out = Renko.fromTicks(ticksDf(Seq((1L, 0.0), (2L, 10000.4))), 1.0, tsUnit = "us")
    // all 10000 bricks share the gap tick's timestamp -> ALL dropped by the
    // first-label rule (the documented empty-result edge)
    assert(out.count() == 0)
    val keep = Renko.fromTicks(ticksDf(Seq((1L, 0.0), (2L, 10000.4))), 1.0,
      tsUnit = "us", dropFirst = false)
    assert(keep.count() == 10000)
  }

  test("negative prices anchor correctly (floor toward -inf)") {
    val out = Renko.fromTicks(
      ticksDf(Seq((1L, -10.3), (2L, -8.1))), 1.0, tsUnit = "us", dropFirst = false)
      .orderBy("close").collect()
    // anchor = floor(-10.3) = -11; up bricks close at -10, -9
    assert(out.map(_.getAs[Double]("close")).toSeq == Seq(-10.0, -9.0))
  }

  /** The message of the IllegalArgumentException `run` fails with,
    * wrapped in a task failure or not.
    */
  private def rejection(run: => Any): String = {
    val e = intercept[Exception](run)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException in the cause chain of $e"))
  }

  test("non-finite prices fail the batch, parallel and streaming scans, naming the value") {
    // a non-finite first price, and NaN or -inf after it. +inf after the
    // first tick is covered in RenkoEngineSpec, where a capped collector
    // stops the endless emission it would cause without the check
    val cases = Seq(
      Seq(100.0, 101.5, Double.NaN) -> "NaN",
      Seq(100.0, 101.5, Double.NegativeInfinity) -> "-Infinity",
      Seq(Double.PositiveInfinity, 101.5, 103.0) -> "Infinity")
    for ((prices, name) <- cases) {
      val rows = prices.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      val msgs = Seq(
        rejection(Renko.fromTicks(ticksDf(rows), 1.0).collect()),
        rejection(Renko.fromTicksParallel(ticksDf(rows), 1.0, numPartitions = 2).collect()),
        rejection(RenkoWS.replay(rows.map { case (t, p) => PriceEvent("x", t, p) }.toDS(), 1.0).collect()))
      msgs.foreach(m => assert(m == s"renko price must be finite, got $name", m))
    }
  }

  test("a null datetime or close fails every batch path with the same message") {
    val nullClose = Seq(("a", Option(1L), Option(100.0)), ("a", Option(2L), Option.empty[Double]))
    val nullTime = Seq(("a", Option(1L), Option(100.0)), ("a", Option.empty[Long], Option(102.0)))
    for (rows <- Seq(nullClose, nullTime)) {
      val df = rows.toDF("sym", "datetime", "close")
      val runs = Seq(
        () => Renko.fromTicks(df, 1.0).collect(),
        () => Renko.fromTicks(df, 1.0, symbolCol = Some("sym")).collect(),
        () => Renko.fromTicksParallel(df, 1.0, numPartitions = 2).collect(),
        () => Renko.fromTicksParallel(df, 1.0, numPartitions = 2, symbolCol = Some("sym")).collect())
      for (run <- runs) {
        val e = intercept[Exception](run())
        val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
        assert(root.isInstanceOf[IllegalArgumentException], s"root cause $root")
        assert(root.getMessage == "ticks need a non-null datetime and close", root.getMessage)
      }
    }
  }

  test("streaming replay of empty / single-event series") {
    val empty = spark.emptyDataset[PriceEvent]
    assert(RenkoWS.replay(empty, 1.0).count() == 0)
    val one = Seq(PriceEvent("x", 5L, 10.4)).toDS()
    val rows = RenkoWS.replay(one, 1.0).collect()
    assert(rows.length == 1 && rows(0).close == 10.0 && rows(0).is_reversal == 1)
  }

  test("pipeline operators on degenerate inputs: empty frames, empty text, tiny corpora") {
    import graft.operators.{Decontamination, Dedup, Sampling, Similarity, TextAnalysis}
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, ""), (3L, "solo")).toDF("doc_id", "text")

    assert(TextAnalysis.repetition(emptyDocs).count() == 0)
    assert(TextAnalysis.redactPii(emptyDocs).count() == 0)
    assert(Dedup.simhash(emptyDocs).count() == 0)
    assert(Dedup.minhashLshPairs(emptyDocs, 0.8).count() == 0)

    // empty-text and sub-shingle docs flow through without errors
    val rep = TextAnalysis.repetition(docs).collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rep.keySet == Set(1L, 2L, 3L) && rep(2L) == 0L && rep(3L) == 0L)
    val red = TextAnalysis.redactPii(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(2L) == "")

    // empty benchmark -> nothing flagged; empty corpus -> nothing flagged
    assert(Decontamination.overlapReport(docs, emptyDocs).count() == 0)
    assert(Decontamination.overlapReport(emptyDocs, docs).count() == 0)

    // sampling boundaries: frac 0 keeps nothing, frac 1 keeps everything
    assert(Sampling.deterministicSample(docs, 0.0).count() == 0)
    assert(Sampling.deterministicSample(docs, 1.0).count() == 3)

    // quantized ANN: k larger than the corpus returns everything ranked
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val topk = Similarity.quantizedTopK(vecs, vecs.filter(col("vec_id") === 1L), 10)
      .collect()
    assert(topk.length == 2, "k > corpus yields all neighbors, no duplicates")
    assert(topk.map(_.getLong(2)).toSet == Set(2L, 3L))

    // streaming dedup on an empty frame
    assert(graft.streaming.DedupStream.firstSeenDocs(emptyDocs).count() == 0)
  }

  test("round-5 operators on degenerate inputs: empty frames, empty text, inverted intervals") {
    import graft.operators.{AsofJoin, Chunking, Clustering, Dedup, RangeJoin, Sampling, Search, Sketches}
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, ""), (3L, "solo")).toDF("doc_id", "text")
    val grouped = docs.withColumn("source", lit("g"))

    // chunking: empty corpus -> 0 rows; empty text still yields ONE chunk
    assert(Chunking.chunk(emptyDocs).count() == 0)
    val ch = Chunking.chunk(docs).collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(ch(2L) == "" && ch(3L) == "solo")
    assert(Chunking.packOffsets(grouped.select("source", "doc_id", "text")).count() == 3)

    // dup spans: sub-k docs are excluded, never error
    val spans = Dedup.dupSpanStats(docs, k = 8).collect()
    assert(spans.map(_.getLong(0)).toSet == Set(1L), "only the 10-token doc has 8-grams")

    // bm25: no document contains the terms -> empty result, no ANSI error;
    // empty corpus -> empty result (null avgdl never divides)
    assert(Search.bm25TopK(docs, Seq("zz", "qq"), 5).count() == 0)
    assert(Search.bm25TopK(emptyDocs, Seq("zz"), 5).count() == 0)

    // mixture: empty weight map = flat default weight
    assert(Sampling.mixtureSample(grouped, "source", Map.empty, defaultWeight = 2.0)
      .count() == 6)

    // kmv: empty corpus -> 0 rows; empty-text token "" hashes fine
    assert(Sketches.kmvDistinctTokens(emptyDocs.withColumn("source", lit("g"))).count() == 0)
    assert(Sketches.kmvDistinctTokens(grouped).count() == 1)

    // asof: empty right side -> all left rows with NULL matches
    val l = Seq((1L, 1L, 10L)).toDF("event_id", "user_id", "ts")
    val rEmpty = Seq.empty[(Long, Long, Long, Double)].toDF("event_id", "user_id", "ts", "value")
    val asof = AsofJoin.asofBackward(l, rEmpty, "user_id", "ts", "ts",
      Seq("event_id", "value"), "event_id").collect()
    assert(asof.length == 1 && asof.head.isNullAt(asof.head.fieldIndex("asof_event_id")))

    // range join: inverted (end < start) intervals are dropped, not exploded
    // into descending bucket sequences
    val pts = Seq((1L, 1L, 50L)).toDF("pt_id", "user_id", "ts")
    val badIv = Seq((1L, 9L, 100L, 0L)).toDF("user_id", "iv_id", "s", "e")
    assert(RangeJoin.intervalJoin(pts, badIv, "user_id", "ts", "s", "e", 10L).count() == 0)

    // centroids: a single-vector label is its own centroid (cos = 1)
    val one = Seq((1L, 0, Array(1.0f, 2.0f))).toDF("vec_id", "label", "embedding")
    val out = Clustering.centroidOutliers(one, 3).collect()
    assert(out.length == 1 && math.abs(out.head.getDouble(3) - 1.0) < 1e-9)
  }

  test("round-5b operators: degenerate inputs") {
    import graft.operators.{Decontamination, Dedup, Search, Skew}
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "src0"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "src1"),
      (3L, "completely different words here nothing shared at all now", "src2")
    ).toDF("doc_id", "text", "source")

    // incremental dedup: empty batch -> empty result, not a crash
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashIncrementalPairs(docs, emptyDocs, 0.8).count() == 0)
    // ... and an empty corpus flags nothing either
    assert(Dedup.minhashIncrementalPairs(emptyDocs, docs, 0.8).count() == 0)

    // keepers: empty pair set -> empty decision (singletons implicitly kept)
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.canonicalKeepers(docs, noPairs, lit(1)).count() == 0)

    // salted join: salts = 1 degenerates to the plain join, empty dim -> 0
    val dim = Seq((1L, "x")).toDF("doc_id", "tag")
    val plain = docs.join(dim, Seq("doc_id")).count()
    assert(Skew.saltedJoin(docs, dim, "doc_id", col("doc_id"), 1).count() == plain)
    val emptyDim = Seq.empty[(Long, String)].toDF("doc_id", "tag")
    assert(Skew.saltedJoin(docs, emptyDim, "doc_id", col("doc_id"), 4).count() == 0)

    // bloom decontamination: empty benchmark -> empty report (the bloom
    // aggregate yields a NULL sketch; the probe must drop, not throw)
    assert(Decontamination.overlapReportBloom(docs, emptyDocs).count() == 0)

    // hybrid RRF with terms hitting nothing: pure-semantic ranking, all
    // lexical sentinels
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val fused = Search.hybridRrfTopK(docs, emb, Seq("zzzmissing"), 1L, k = 3).collect()
    assert(fused.nonEmpty)
    assert(fused.forall(_.getLong(3) == -1L), "no doc should carry a lexical rank")
  }

  test("curve operators on degenerate eval sets: empty and single-class") {
    import graft.operators.{Selection, Similarity}
    // empty scored set: prCurve -> zero rows, no crash
    val empty = Seq.empty[(Long, Boolean, Long)].toDF("doc_id", "label", "score_micro")
    assert(Selection.prCurve(empty).collect().isEmpty)
    // all-negative eval: tp stays 0, recall is NaN (0/0) not a crash
    val allNeg = Seq((1L, false, 5L), (2L, false, 3L)).toDF("doc_id", "label", "score_micro")
    val rows = Selection.prCurve(allNeg).orderBy(col("threshold_micro").desc).collect()
    assert(rows.length == 2 && rows.forall(_.getLong(1) == 0L))
    assert(rows.forall(r => r.getDouble(5).isNaN))
    // recallAtK with an empty approximate side: n_found 0, recall 0
    val exact = Seq((1L, 10L), (1L, 11L)).toDF("query_id", "neighbor_id")
    val approx = Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(approx, exact).head()
    assert(r.getAs[Long]("n_true") == 2L && r.getAs[Long]("n_found") == 0L)
    assert(r.getAs[Double]("recall") == 0.0)
    // empty ground truth: NaN recall, not an ANSI DIVIDE_BY_ZERO
    val r2 = Similarity.recallAtK(approx,
      Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id")).head()
    assert(r2.getAs[Long]("n_true") == 0L && r2.getAs[Long]("n_found") == 0L)
    assert(r2.getAs[Double]("recall").isNaN)
  }
}
