package graft

import graft.operators.Renko
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan assertions: the properties that keep these operators fast
  * at 100 TB — column pruning into the scan, predicate pushdown, broadcast
  * joins for small dimensions, shuffle counts — are checked here so a
  * regression in plan shape fails CI, not a production run.
  */
class PlanQualitySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    // ReadSchema pins inspect the FILE scan: another suite caching the same
    // parquet in this shared session would substitute its (unpruned)
    // InMemoryRelation here and fail the pin on ordering, not substance
    spark.catalog.clearCache()
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("renko scan: only (datetime, close) reach the parquet reader") {
    val ticks = spark.read.parquet(s"$sf/events.parquet")
      .select(col("ts").as("datetime"), col("value").as("close"))
    val plan = formatted(Renko.fromTicks(ticks, 25.0, tsUnit = "ns"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("ts") && readSchema.contains("value"),
      s"expected pruned scan of ts+value, got: $readSchema")
    // the wide events schema (event_type, props, user_id) must NOT be read
    assert(!readSchema.contains("props") && !readSchema.contains("user_id"),
      s"column pruning failed before the typed operator: $readSchema")
  }

  test("renko fromTicks: one exchange, of tick blocks; no sort over tick rows") {
    val ticks = spark.read.parquet(s"$sf/events.parquet")
      .select(col("ts").as("datetime"), col("value").as("close"), col("event_type"))
    for (symbolCol <- Seq(None, Some("event_type"))) {
      val plan = Renko.fromTicks(ticks, 25.0, symbolCol = symbolCol, tsUnit = "ns").queryExecution.executedPlan
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case _ => p +: p.children.flatMap(nodes)
      }
      val all = nodes(plan)
      assert(all.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, s"expected one exchange:\n$plan")
      val sorts = all.collect { case s: SortExec => s }
      // a block row carries its input partition and block number; a tick row does not
      assert(sorts.nonEmpty && sorts.forall(_.child.output.map(_.name).contains("seq")),
        s"sorts must be over block rows only:\n$plan")
      // the pack and the fold read and write internal rows: no object layer
      val objectNodes = all.filter(n => n.isInstanceOf[org.apache.spark.sql.execution.SerializeFromObjectExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.DeserializeToObjectExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.MapPartitionsExec])
      assert(objectNodes.isEmpty, s"no object encode or decode in the renko plan:\n$plan")
    }
  }

  test("q2 filter pushdown reaches the lineitem scan") {
    val plan = formatted(SparkEntry.queries("q2_filter_sort")(spark, sf))
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_quantity") || pushed.contains("l_shipdate"),
      s"expected pushed filters, got: $pushed")
  }

  test("q21 json extraction: only (props, value) reach the events scan, no UDF") {
    val plan = formatted(SparkEntry.queries("q21_json_extract")(spark, sf))
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("props") && read.contains("value") && !read.contains("event_id"),
      s"events scan should be pruned to (props, value): $read")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "json extraction must stay a codegen'd path expression, not a UDF")
  }

  test("q3/q4: small dimension joins broadcast (no shuffle of the fact side for dims)") {
    val p3 = formatted(SparkEntry.queries("q3_join_broadcast")(spark, sf))
    assert(p3.contains("BroadcastHashJoin"), "q3 should broadcast customer")
    val p4 = formatted(SparkEntry.queries("q4_multijoin")(spark, sf))
    assert(p4.contains("BroadcastHashJoin"), "q4 should broadcast dims")
  }

  test("pipeline_curate (+budget variant): no cartesian product, no UDFs, pruned documents scan") {
    for (name <- Seq("pipeline_curate", "pipeline_curate_budget", "pipeline_curate_gopher")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: the composed pipeline must stay equi-join only")
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        s"$name: every stage must stay a codegen'd expression")
      // the documents scans feed (doc_id, text, lang/source filters) — the
      // wide embedding-adjacent columns must never be read
      plan.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
        assert(!l.contains("embedding"), s"$name: unexpected column in curate scan: $l")
      }
    }
  }

  test("corpus_diff: pruned scans, equi full-outer join") {
    val plan = formatted(SparkEntry.queries("corpus_diff")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "snapshot diff must be an equi join")
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(l => !l.contains("lang")),
      s"diff scans must be pruned to (doc_id, source, text): $reads")
  }

  test("hierarchical samplers: pruned scans, broadcast range-base join, no cartesian") {
    for (name <- Seq("sample_token_budget", "sample_shuffle_order")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = formatted(df)
      // no cartesian and no unbounded one-task stage — machine-checked;
      // the ≤1024-row range-base PREFIX is deliberately a broadcast
      // non-equi self-join (SmallPrefix), so a blanket nested-loop ban
      // would misfire on the tiny frame
      assert(graft.util.PlanLint.lint(df).isEmpty,
        s"$name: ${graft.util.PlanLint.lint(df).mkString("; ")}")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"$name: the tiny range-base frame must broadcast, never shuffle the corpus side")
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), name)
    }
    // token budget reads (doc_id, lang, text) only; shuffle order never text
    val tb = formatted(SparkEntry.queries("sample_token_budget")(spark, sf))
    tb.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("source") && !l.contains("n_chars"),
        s"sample_token_budget scan not pruned: $l")
    }
    val so = formatted(SparkEntry.queries("sample_shuffle_order")(spark, sf))
    so.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text"), s"sample_shuffle_order must not read text: $l")
    }
  }

  test("renko fromSortedTicks plans with zero exchanges") {
    val ticks = spark.read.parquet(s"$sf/events.parquet")
      .select(col("ts").as("datetime"), col("value").as("close"))
      .orderBy("datetime").coalesce(1).cache()
    ticks.count()
    def countShuffles(p: SparkPlan): Int = {
      val self = p match {
        case _: ShuffleExchangeExec => 1
        case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
        case _ => 0
      }
      self + p.children.map(countShuffles).sum
    }
    val plan = Renko.fromSortedTicks(ticks, 25.0, tsUnit = "ns").queryExecution.executedPlan
    assert(countShuffles(plan) == 0, s"sorted path must not shuffle:\n$plan")
    ticks.unpersist()
  }

  test("whole-stage codegen covers the relational operators") {
    // AQE reveals codegen stages only in the executed plan
    def executedPlanString(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // codegen stages render as "*(n) Operator" in the plan tree
    val q1 = executedPlanString("q1_agg")
    assert(q1.contains("*(1)"), s"q1 should run in whole-stage codegen:\n$q1")
    assert(q1.contains("partial_sum"), "q1 should do map-side partial aggregation")
    assert(executedPlanString("text_quality").contains("*(1)"),
      "text_quality should run in whole-stage codegen")
  }

  test("LSH dedup plans: no cartesian products, candidate joins are equi-joins") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for ((name, df) <- Seq(
        "minhash" -> graft.operators.Dedup.minhashLshPairs(docs, 0.8),
        // method forced so BOTH blocking shapes stay plan-pinned (auto
        // routes maxHamming=7 to two-of-m, which the next entry covers)
        "simhash" -> graft.operators.Dedup.simhashPairs(docs, 7, method = "chunks"),
        "simhash-2ofm" -> graft.operators.Dedup.simhashPairsTwoOfM(docs, 7))) {
      val plan = formatted(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a nested-loop join:\n$plan")
    }
  }

  test("mm near-dup plan: equi-join on bands, no cartesian, decode exchange reused") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val df = graft.operators.Multimodal.nearDupPairs(
      graft.operators.Multimodal.encodePpm(docs))
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded self-join must stay an equi-join:\n$plan")
    // at this fixture size AQE rightly broadcasts one side; the 100 TB
    // shape is the shuffled self-join, where both sides are the same
    // banded-signature subtree — pin that the decode kernel runs ONCE
    // there (second side reads the reused exchange, no double decode)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val shuffledDf = graft.operators.Multimodal.nearDupPairs(
        graft.operators.Multimodal.encodePpm(docs))
      shuffledDf.collect() // AQE stitches in exchange reuse at runtime
      val shuffled = shuffledDf.queryExecution.executedPlan.toString
      assert(shuffled.contains("ReusedExchange") || shuffled.contains("ReusedQueryStage"),
        s"shuffled self-join must reuse the banded-signature exchange:\n$shuffled")
    } finally spark.conf.set(key, prev)
  }

  test("winnowed fingerprints are scan-local: zero exchanges in the digest plan") {
    def countShuffles(p: SparkPlan): Int = {
      val self = p match {
        case _: ShuffleExchangeExec => 1
        case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
        case _ => 0
      }
      self + p.children.map(countShuffles).sum
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.operators.TextAnalysis.winnowedFingerprints(docs)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(countShuffles(plan) == 0,
      s"winnow digest must stay inside the scan stage:\n$plan")
  }

  test("dedup signature stages are scan-local: zero exchanges for minhash/simhash signatures") {
    def countShuffles(p: SparkPlan): Int = {
      val self = p match {
        case _: ShuffleExchangeExec => 1
        case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
        case _ => 0
      }
      self + p.children.map(countShuffles).sum
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for ((name, df) <- Seq(
        "minhashSigs" -> graft.operators.Dedup.minhashSigs(
          docs, graft.operators.Dedup.MinHashParams(), "doc_id", "text"),
        "simhash" -> graft.operators.Dedup.simhash(docs))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(countShuffles(plan) == 0,
        s"$name must stay inside the scan stage (the all-rows stage of the dedup pipeline):\n$plan")
    }
  }

  test("cosine pair plans: LSH-candidate paths contain no cross product") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    for ((name, df) <- Seq(
        "topCosinePairs(lsh)" ->
          graft.operators.Similarity.topCosinePairs(emb, 20, method = "lsh"),
        "cosineNearDupPairs" ->
          graft.operators.Similarity.cosineNearDupPairs(emb, 0.42))) {
      val plan = formatted(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a nested-loop join:\n$plan")
    }
  }

  test("IVF assign: corpus centroid assignment is an expression, not a window") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = graft.operators.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5)
    // only the final per-query ranking window may remain: the corpus-sized
    // assignment window (corpus x nlist shuffle) must be gone, and the
    // top-nprobe query assignment is an expression too (no cross join)
    val plan = df.queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size
    assert(windows == 1, s"expected 1 window (final rank), got $windows")
    val crossJoins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join if j.condition.isEmpty => j
    }.size
    assert(crossJoins == 0, s"the probe side must not cross-join the centroids:\n$plan")
  }

  test("ANN LSH plan: query side broadcast, no cartesian") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = formatted(
      graft.operators.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), 5))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bucketed ANN should broadcast the small query side:\n$plan")
  }

  test("asof join: exactly one hash shuffle (union + single carry-forward window)") {
    import spark.implicits._
    val l = Seq((1L, 1L, 10L)).toDF("event_id", "user_id", "ts")
    val r = Seq((2L, 1L, 5L, 1.0)).toDF("event_id", "user_id", "ts", "value")
    val df = graft.operators.AsofJoin.asofBackward(l, r, "user_id", "ts", "ts",
      Seq("event_id", "value"), "event_id")
    val shuffles = df.queryExecution.executedPlan.toString.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1,
      s"asof must shuffle both sides ONCE by key, found $shuffles hash exchanges")
  }

  test("range join plans as a bucketed equi-join: no cartesian, no nested loop") {
    val plan = formatted(SparkEntry.queries("events_sessions_range")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to a nested-loop cross product:\n$plan")
  }

  test("block dedup and drift plans: equi-joins only, no UDFs") {
    for (name <- Seq("dedup_blocks", "dedup_blocks_stream", "corpus_drift")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must stay equi-join only:\n${plan.take(2000)}")
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        s"$name must stay codegen'd expressions")
    }
  }

  test("bounded top-k pushdown: kmv sketch and centroid outliers use WindowGroupLimit") {
    // Spark's WindowGroupLimit turns rank-then-filter into a bounded per-
    // partition heap BEFORE the shuffle — the difference between sorting
    // O(distinct hashes) and keeping k per group at 100 TB
    for (name <- Seq("text_vocab_sketch", "emb_outliers", "sample_source_cap")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name lost the rank-limit pushdown:\n${plan.take(2000)}")
    }
  }

  test("salted join: shuffled-hash on the salted key, dim replication stays in-plan") {
    // the whole point of the salt is spreading a hot key across reducers —
    // a broadcast here would mean no shuffle at all (and no demo), and a
    // plain un-salted sort-merge would mean the salt got optimized away
    val plan = formatted(SparkEntry.queries("q19_salted_join")(spark, sf))
    assert(plan.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin:\n${plan.take(1500)}")
    assert(plan.contains("__salt"), "join keys must include the salt")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("hybrid RRF plan: no cartesian product, fusion join stays broadcast-sized") {
    val plan = formatted(SparkEntry.queries("search_hybrid_rrf")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"hybrid fusion must not cross-product:\n${plan.take(1500)}")
  }

  test("corpus report: one scan, one aggregation exchange") {
    // the nightly rollup must stay a single-pass job: quality is a pure
    // projection, so the only shuffle is the final per-source aggregate
    val plan = SparkEntry.queries("corpus_report")(spark, sf).queryExecution.executedPlan
    def countExchanges(p: SparkPlan): Int =
      (if (p.isInstanceOf[ShuffleExchangeExec]) 1 else 0) +
        p.children.map(countExchanges).sum +
        p.subqueries.map(countExchanges).sum
    val resolved = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // one exchange for the groupBy(source), one for the global orderBy
    assert(countExchanges(resolved) <= 2,
      s"corpus_report grew extra shuffles:\n${resolved.toString.take(1500)}")
  }

  test("semantic dedup: within-cluster equi-join, expression assignment, no cartesian") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = graft.operators.Similarity.semanticDedup(emb, 0.42)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the cluster-bounded pair scan must stay an equi-join:\n${plan.take(1500)}")
    // centroid assignment is the scan-stage native argmax on BOTH join
    // sides — a corpus x nlist window would shuffle the corpus twice
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size
    assert(windows == 0, s"expected no assignment windows, got $windows")
  }

  test("export shard deal: broadcast range-base, scan pruned to (doc_id, text)") {
    val df = SparkEntry.queries("export_shards")(spark, sf)
    val plan = formatted(df)
    // machine-checked (the range-base PREFIX is a deliberate tiny-frame
    // broadcast non-equi self-join — see SmallPrefix — so no blanket
    // nested-loop ban here)
    assert(graft.util.PlanLint.lint(df).isEmpty,
      graft.util.PlanLint.lint(df).mkString("; "))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the 1024-row range-base frame must broadcast:\n${plan.take(1500)}")
    plan.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("lang") && !l.contains("source"),
        s"export scan must read only (doc_id, text): $l")
    }
  }

  test("incremental dedup: band probe is an equi-join, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val inc = graft.operators.Dedup.minhashIncrementalPairs(
      docs.filter(col("doc_id") % 4 =!= 3), docs.filter(col("doc_id") % 4 === 3), 0.8)
    val plan = formatted(inc)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"banded probe degenerated:\n${plan.take(1500)}")
  }

  // every condition-free (cross) join in these plans must carry a provably
  // 1-row side — the deliberate broadcast of a global total/denominator —
  // never a corpus x corpus nested loop
  private def onlySingleRowCrossJoins(
      df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val crosses = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.isEmpty => j
    }
    crosses.foreach { j =>
      assert(j.left.maxRows.exists(_ <= 1L) || j.right.maxRows.exists(_ <= 1L),
        s"$name: condition-free join without a 1-row side:\n$j")
    }
  }

  test("dsir + nb classifier: model table broadcasts, selection is TakeOrdered, no windows") {
    val df = SparkEntry.queries("sample_dsir")(spark, sf)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"),
      s"sample_dsir: scoring must stay equi/broadcast joins:\n${plan.take(1500)}")
    onlySingleRowCrossJoins(df, "sample_dsir")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "sample_dsir: the 1024-row weight table must broadcast onto the feature stream")
    assert(plan.contains("TakeOrderedAndProject"),
      "sample_dsir: the top-k draw must be a distributed TakeOrdered, not a sort/window")
    // no window anywhere: scores are aggregates, the draw is a limit
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size
    assert(windows == 0, s"sample_dsir: expected no windows, got $windows")
    val nbDf = SparkEntry.queries("text_nb_classifier")(spark, sf)
    val nb = formatted(nbDf)
    assert(!nb.contains("CartesianProduct"),
      s"text_nb_classifier: scoring must stay equi/broadcast joins:\n${nb.take(1500)}")
    onlySingleRowCrossJoins(nbDf, "text_nb_classifier")
    assert(nb.contains("BroadcastHashJoin") || nb.contains("BroadcastExchange"),
      "text_nb_classifier: the model table must broadcast")
  }

  test("temperature sample: broadcast quota/range-base joins, windows only over range-split groups") {
    val df = SparkEntry.queries("sample_temperature")(spark, sf)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"),
      s"sample_temperature: quota join degenerated:\n${plan.take(1500)}")
    onlySingleRowCrossJoins(df, "sample_temperature")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "sample_temperature: the stratum-quota and range-base frames must broadcast")
    // every corpus-side window must partition by the 1024-way range split
    // (the strata-only window is the tiny per-range count frame) — a
    // whole-stratum corpus window would be the single-task trap
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "sample_temperature: no partitionless window allowed")
  }

  test("layout family: codegen'd z-value, broadcast stats/range-base, pruned scans, no UDF") {
    // z-value compute is scan-local built-in bit arithmetic
    val zv = formatted(SparkEntry.queries("layout_zorder")(spark, sf))
    assert(!zv.contains("ScalaUDF") && !zv.contains("BatchEvalPython"),
      "layout_zorder must not use UDFs")
    // the one-row stats frame joins as a BROADCAST (nested-loop on a
    // broadcast scalar is fine; an un-broadcast CartesianProduct is not)
    assert(!zv.contains("CartesianProduct"), "stats frame must broadcast")
    assert(zv.contains("BroadcastExchange"), "stats frame must broadcast")
    zv.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("user_id") && !l.contains("props"),
        s"layout_zorder events scan not pruned: $l")
    }
    // file assignment: the corpus-side window is range-partitioned (never
    // a one-task global window) and the range-base frame broadcasts
    val asn = SparkEntry.queries("layout_zorder_zonemap")(spark, sf)
    val plan = formatted(asn)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "zonemap: range-base must broadcast")
    val windows = asn.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val corpusWindows = windows.filterNot(_.partitionSpec.nonEmpty)
    // partitionless windows are allowed ONLY over the <=1024-row range-base
    // frame (an Aggregate below them); the corpus rank must be partitioned
    corpusWindows.foreach { w =>
      val hasAgg = w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty
      assert(hasAgg, "partitionless window must sit on the tiny range-base aggregate")
    }
  }

  test("recall + pr-curve: top-k joins broadcast, no cartesian, no UDF") {
    for (name <- Seq("sim_topk_ivf_recall", "text_classifier_pr_curve")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), name)
      assert(!plan.contains("CartesianProduct"), s"$name: no cartesian")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"$name: the sample-sized side must broadcast")
    }
  }
}
