package graft

import graft.operators.{Renko, RenkoModes}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: headline queries on SPARK_GRAFT_SF_DIR (driver runs at
  * sf0.1) plus two synthetic renko workloads sized to the reference's
  * perf_backtest (14.7M ticks → BASELINE.md: 12.65 s single-thread):
  *  - renko_14m_1series: one series = sequential scan, measures per-core
  *    scan throughput against the reference's number;
  *  - renko_14m_32series: same volume split across 32 series = the scale
  *    path (parallelism = #series), measures the distributed layout.
  * Tick synthesis is elementwise (sin sweep + hash jitter) — no window, no
  * shuffle — so the measurement is dominated by the scan itself.
  */
object Bench {

  /** Synthetic tick table: n ticks over `series` keys, elementwise price. */
  private def synthTicks(spark: SparkSession, n: Long, series: Int): DataFrame =
    spark.range(n).select(
      pmod(col("id"), lit(series)).cast("string").as("symbol"),
      col("id").as("datetime"), // epoch µs
      (lit(200.0)
        + lit(50.0) * sin(col("id").cast("double") / lit(5000.0))
        + (pmod(xxhash64(col("id")), lit(1000L)).cast("double") / lit(1000.0) - lit(0.5)) * lit(2.0)
        ).as("close"))

  // ---- rep admission calibration (VERDICT r16 #1) -------------------
  // The runq gate (r15) still admitted reps inflated 1.3-2x by external
  // load three rounds running: a drained run QUEUE does not mean free
  // CPUs — the contending processes may be runnable again the instant the
  // rep starts. The calibration probe measures what actually matters: a
  // fixed ~100 ms reference computation (one spin thread per core, so
  // partial-core contention shows up, unlike a 1-thread probe on a
  // 32-core host) is timed at sweep start (min-of-5, the quiet base) and
  // re-timed before every rep. A rep admitted while the probe runs >1.5x
  // its base is stamped calib-dirty; the headline comes only from
  // calib-clean AND budget-clean reps, and an entry with NO clean rep is
  // listed in the parsed line's top-level "contended" array — the
  // artifact self-reports pollution instead of requiring a three-artifact
  // forensic.
  @volatile private var calibBase: Double = -1.0
  @volatile private var calibSink = 0L // defeats dead-code elimination
  private def calibOnce(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val t0 = System.nanoTime()
    val threads = (0 until n).map { k =>
      val th = new Thread(() => {
        var h = 1469598103934665603L ^ k
        var i = 0
        while (i < 30000000) { h ^= i; h *= 1099511628211L; i += 1 }
        acc.addAndGet(h)
      })
      th.start(); th
    }
    threads.foreach(_.join())
    calibSink ^= acc.get()
    (System.nanoTime() - t0) / 1e9
  }

  // memoized serving stores for the *_probe entries: built ONCE (untimed,
  // in main before the measurement loop) so the probe-only timings never
  // absorb construction cost — the un-suffixed serving entries keep timing
  // BUILD + probe (the query-contract closure rebuilds per call), so each
  // serving family reports BOTH numbers and a probe regression is never
  // hidden inside construction noise
  private val preparedStores = scala.collection.concurrent.TrieMap.empty[String, String]
  // serving_mixed_churn state: unique batch ids (replayed ids would
  // overwrite a committed epoch) and disjoint append slices across reps
  private val churnTick = new java.util.concurrent.atomic.AtomicLong(100L)
  private val churnSlice = new java.util.concurrent.atomic.AtomicInteger(0)
  private def preparedEpochLex(s: SparkSession, dir: String): String =
    preparedStores.getOrElseUpdate(s"lex:$dir", SparkEntry.buildEpochTextIndex(s, dir, "epb"))
  private def preparedEpochIvf(s: SparkSession, dir: String): String =
    preparedStores.getOrElseUpdate(s"ivf:$dir", SparkEntry.buildEpochIvfIndex(s, dir, "epb"))

  private def freshDir(s: SparkSession, tag: String, dir: String): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_bnch_${tag}_${Integer.toHexString(dir.hashCode)}"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // append/ingest accrete epochs: a stale dir would double-serve
    if (fs.exists(p)) fs.delete(p, true)
    path
  }

  /** Store builders for the probe-only serving entries, by store key. */
  private def buildStore(s: SparkSession, sfDir: String, key: String): String = {
    def emb = s.read.parquet(s"$sfDir/embeddings.parquet")
    def docs = s.read.parquet(s"$sfDir/documents.parquet")
    key match {
      case "ivf_label" =>
        val p = freshDir(s, "ivfl", sfDir)
        operators.IvfIndex.write(emb, p, keepCols = Seq("label")); p
      case "lex_lang" =>
        val p = freshDir(s, "lexl", sfDir)
        operators.TextIndex.write(docs, p, keepCols = Seq("lang")); p
      case "ivf_sq8" =>
        val p = freshDir(s, "sq8", sfDir)
        operators.IvfIndex.writeQuantized(emb, p); p
      case "ivf_pq" =>
        val p = freshDir(s, "pq", sfDir)
        operators.IvfIndex.writePq(emb, p); p
      case "ivf_app" =>
        val p = freshDir(s, "ivfa", sfDir)
        operators.IvfIndex.write(emb.filter(col("vec_id") < 400), p)
        operators.IvfIndex.append(emb.filter(col("vec_id") >= 400), p); p
      case "lex_app" =>
        val p = freshDir(s, "lexa", sfDir)
        operators.TextIndex.write(docs.filter(col("doc_id") % 2 === 0), p)
        operators.TextIndex.append(docs.filter(col("doc_id") % 2 === 1), p); p
      case "ivf_str" =>
        val p = freshDir(s, "ivfs", sfDir)
        graft.streaming.IvfIngest.ingestBatch(emb.filter(col("vec_id") < 250), p, 0L)
        graft.streaming.IvfIngest.ingestBatch(
          emb.filter(col("vec_id") >= 250 && col("vec_id") < 400), p, 1L)
        graft.streaming.IvfIngest.ingestBatch(emb.filter(col("vec_id") >= 400), p, 2L)
        p
      case "lex_str" =>
        val p = freshDir(s, "lexs", sfDir)
        graft.streaming.TextIngest.ingestBatch(docs.filter(col("doc_id") % 3 === 0), p, 0L)
        graft.streaming.TextIngest.ingestBatch(docs.filter(col("doc_id") % 3 === 1), p, 1L)
        graft.streaming.TextIngest.ingestBatch(docs.filter(col("doc_id") % 3 === 2), p, 2L)
        p
      case "ivf_churn" =>
        val p = freshDir(s, "ivfc", sfDir)
        graft.streaming.IvfIngest.ingestBatch(emb.filter(col("vec_id") < 800), p, 0L)
        graft.streaming.IvfIngest.ingestBatch(
          emb.filter(col("vec_id") >= 800 && col("vec_id") < 1600), p, 1L)
        p
      case "lex_churn" =>
        val p = freshDir(s, "lexc", sfDir)
        graft.streaming.TextIngest.ingestBatch(docs.filter(col("doc_id") < 2000), p, 0L)
        graft.streaming.TextIngest.ingestBatch(
          docs.filter(col("doc_id") >= 2000 && col("doc_id") < 4000), p, 1L)
        p
      case "ivf_plain" =>
        val p = freshDir(s, "ivfp", sfDir)
        operators.IvfIndex.write(emb, p); p
      case "lex_plain" =>
        val p = freshDir(s, "lexp", sfDir)
        operators.TextIndex.write(docs, p); p
      case other => throw new IllegalArgumentException(s"unknown store key $other")
    }
  }
  private def store(s: SparkSession, sfDir: String, key: String): String =
    preparedStores.getOrElseUpdate(s"$key:$sfDir", buildStore(s, sfDir, key))

  /** Which prepared stores each probe-only entry needs — main pre-builds
    * them untimed so rep 1 never pays construction.
    */
  private val probeStoreKeys: Map[String, Seq[String]] = Map(
    "serving_tvf_concurrent8" -> Seq("ivf_label", "lex_lang"),
    "sim_topk_ivf_tvf_probe" -> Seq("ivf_label"),
    "sim_topk_ivf_tvf_pushdown_probe" -> Seq("ivf_label"),
    "text_bm25_tvf_probe" -> Seq("lex_lang"),
    "text_bm25_tvf_pushdown_probe" -> Seq("lex_lang"),
    "sim_topk_ivf_sq8_tvf_probe" -> Seq("ivf_sq8"),
    "sim_topk_ivf_pq_tvf_probe" -> Seq("ivf_pq"),
    "sim_topk_ivf_appended_probe" -> Seq("ivf_app"),
    "text_bm25_appended_probe" -> Seq("lex_app"),
    "sim_topk_ivf_streamed_probe" -> Seq("ivf_str"),
    "text_bm25_streamed_probe" -> Seq("lex_str"),
    "search_hybrid_rrf_served_probe" -> Seq("ivf_plain", "lex_plain"),
    "serving_mixed_churn" -> Seq("ivf_churn", "lex_churn"))

  /** serving_mixed_churn's probe mix (16 graft_ann + 16 graft_bm25 with
    * rotating nprobe/terms) — ONE definition shared by the timed churn
    * phase and the untimed quiet twin, so the budget's base and the
    * measured phase can never drift apart.
    */
  private def churnProbeSqls(
      s: SparkSession, sfDir: String, ivf: String, lex: String): Seq[String] = {
    s.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 8)
      .createOrReplaceTempView("bench_churn_q")
    val terms = Seq("dup,vector", "join,slow", "data,query", "dup,join")
    (0 until 16).map(i =>
      s"""SELECT query_id, rank, neighbor_id, cos_sim
         |FROM graft_ann('$ivf', 'bench_churn_q', 5, ${2 + i % 3})
         |ORDER BY query_id, rank""".stripMargin) ++
      (0 until 16).map(i =>
        s"SELECT doc_id, rank, bm25 FROM graft_bm25('$lex', '${terms(i % 4)}', 10) ORDER BY rank")
  }

  @volatile private var churnQuietP50: Double = -1.0

  /** The churn entry's quiet twin, measured ONCE per sweep, untimed, in
    * main's prep (r16 verdict #2): the same 32 probes at the same
    * concurrency against the pre-churn store with NO churn ops. Its p50
    * prices the host + planner floor and is the p95 <= 3x budget base for
    * every rep; it also pays the cold metadata/planning cost, so the
    * budget can only be conservative.
    */
  private def measureChurnQuiet(s: SparkSession, sfDir: String): Unit = {
    GraftExtensions.registerTvfs(s)
    val sqls = churnProbeSqls(s, sfDir,
      store(s, sfDir, "ivf_churn"), store(s, sfDir, "lex_churn"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sqls.size)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val quiet = Await.result(Future.sequence(sqls.map(q => Future {
        val t0 = System.nanoTime()
        s.sql(q).count()
        (System.nanoTime() - t0) / 1e9
      })), 10.minutes).sorted
      churnQuietP50 = medianOf(quiet)
      System.err.println(
        f"[bench] churn quiet twin p50 $churnQuietP50%.3f s (untimed, once per sweep)")
    } finally pool.shutdown()
  }

  /** The events_funnel_stream fold at an ARBITRARY epoch count — the
    * microbatch-floor characterization (r12 verdict: the 26x gap over the
    * batch twin was recorded but never shown to be a constant rather than
    * per-epoch). Epochs are equal time slices of the 30-day window (the
    * fold's stream==batch contract needs time-ordered batches); the
    * 3-epoch CORRECTNESS query stays the oracle-pinned form, these are
    * measurement-only. time(E) ~ floor + slope*E, slope ~ the batch twin.
    */
  private def funnelStreamFold(s: SparkSession, sfDir: String, epochs: Int): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = s.read.parquet(s"$sfDir/events.parquet")
    val withE = ev.withColumn("t_us",
      Renko.toEpochMicros(ev.schema("ts").dataType, col("ts"), "ns"))
    val width = math.max(1L, 30L * 86400000000L / epochs)
    // same two floor fixes as the CORRECTNESS fold: the sliced source is
    // pinned once (a real micro-batch arrives once), and counts aggregate
    // the PINNED state so the final union never re-runs an epoch's merge
    val sliced = withE.withColumn("ep", least(lit(epochs - 1L),
      expr(s"CAST((t_us - 1704067200000000L) div ${width}L AS BIGINT)")))
      .localCheckpoint(true)
    var state: Option[DataFrame] = None
    val perEpoch = (0 until epochs).map { e =>
      val batch = sliced.filter(col("ep") === lit(e.toLong))
      val (_, ns) = operators.EventAnalytics.funnelIncremental(
        state, batch, Seq("signup", "view", "purchase"), col("t_us"))
      val nsq = ns.localCheckpoint(true)
      state = Some(nsq)
      operators.EventAnalytics.funnelCounts(nsq, Seq("signup", "view", "purchase"))
        .withColumn("epoch", lit(e.toLong))
    }
    perEpoch.reduce(_.unionByName(_)).orderBy(col("epoch"), col("step"))
  }

  /** pipeline_curate_stream's fold at an arbitrary epoch count (doc_id
    * modulus slicing, same as the 3-epoch CORRECTNESS form) — the curation
    * half of the microbatch-floor characterization.
    */
  private def curateStreamFold(s: SparkSession, sfDir: String, epochs: Int): DataFrame = {
    val d = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val bench = d.filter(col("doc_id") % 10 === 7)
    val corpus = d.filter(col("doc_id") % 10 =!= 7)
    val bg = operators.Decontamination.benchGramsOf(bench).localCheckpoint(true)
    var store: Option[(DataFrame, DataFrame)] = None
    var consumed = Map.empty[String, Long]
    val perEpoch = (0 until epochs).map { e =>
      val tEp0 = System.nanoTime()
      val batch = corpus.filter(pmod(col("doc_id"), lit(epochs.toLong)) === lit(e.toLong))
      val (adm, admBuckets, fin) = graft.streaming.CurationStream.curateBatchWithBuckets(
        store, consumed, batch, bench, budget = 2000L, benchGrams = Some(bg))
      // the curated record is a PROJECTION over the epoch's admission
      // checkpoint (r18: cum_tokens rides that one pin) — copy the
      // budget-bounded sliver into its own pin before the store re-pin
      // releases the epoch's blocks below; one single-stage job over
      // pinned blocks, replacing the old full window-checkpoint action
      val finQ = fin.localCheckpoint(true)
      Renko.logPhase("curate stages", (System.nanoTime() - tEp0) / 1e9)
      // the store is re-pinned to ONE frame per side each epoch — the fold
      // analog of the production stream's single parquet store scan per
      // trigger. A union-of-pins store grows a plan branch (≈6 AQE jobs)
      // per accumulated epoch: measured 15 jobs at epoch 1 vs 75 at epoch
      // 10 inside the adm checkpoint, an O(E²) fold masquerading as a big
      // linear constant. Re-pinning copies already-materialized blocks
      // (no recompute) and keeps the probe plan flat-in-epochs; the
      // superseded pins are released immediately (fin stays — it is the
      // fold's output).
      val tSt0 = System.nanoTime()
      // the bucket side pins ONCE per epoch, directly into the union
      // frame (the old epoch-pin-then-union-pin materialized every bucket
      // row twice per epoch — one eager checkpoint job saved per epoch)
      val next = store match {
        case Some((sd, sb)) =>
          val nd = sd.unionByName(adm).localCheckpoint(true)
          val nb = sb.unionByName(admBuckets).localCheckpoint(true)
          Seq(sd, sb, adm).foreach(graft.util.LocalCkpt.release)
          (nd, nb)
        case None => (adm, admBuckets.localCheckpoint(true))
      }
      store = Some(next)
      Renko.logPhase("curate storePin", (System.nanoTime() - tSt0) / 1e9)
      val tC0 = System.nanoTime()
      // budget state off the pinned sliver in ONE single-stage collect —
      // the rows are budget-bounded by construction (cum_tokens < budget +
      // n_tokens per stratum), so the driver-side max replaces a
      // groupBy+collect exchange round per epoch (r18)
      consumed = consumed ++ finQ.select(col("lang"), col("cum_tokens")).collect()
        .groupBy(_.getString(0)).map { case (l, rs) => l -> rs.map(_.getLong(1)).max }
      Renko.logPhase("curate consumed", (System.nanoTime() - tC0) / 1e9)
      finQ.withColumn("epoch", lit(e))
    }
    perEpoch.reduce(_.unionByName(_)).orderBy(col("doc_id"))
  }

  private def headline(sfDir: String): Seq[(String, SparkSession => DataFrame)] = {
    def q(name: String): SparkSession => DataFrame = s => SparkEntry.queries(name)(s, sfDir)
    Seq[(String, SparkSession => DataFrame)](
      // the three baseline-comparison workloads run FIRST, right after
      // warmup: BASELINE.md's 12.65 s is a fresh single-process
      // measurement, so these must not absorb old-gen garbage from 19
      // corpus queries first (measured: +60% on renko_14m_32series when
      // run last at sf0.1, on identical code — min-of-2 and System.gc()
      // do not drain a dirtied old gen)
      //
      // single large series, unsorted input: parallel range-sort +
      // sync-point stitched scan (fromTicksParallel) — fromTicks would
      // merge all 14.7M ticks on one task here
      "renko_14m_1series" -> (s => RenkoModes.project(
        Renko.fromTicksParallel(synthTicks(s, 14700000L, 1), 1.0, tsUnit = "us"), "wicks")),
      "renko_14m_32series" -> (s => RenkoModes.project(
        Renko.fromTicks(synthTicks(s, 14700000L, 32), 1.0,
          symbolCol = Some("symbol"), tsUnit = "us"), "wicks")),
      // the SAME 14.7M/32-series volume probed for ONE series through the
      // SQL TVF: RenkoSymbolPushdown moves the predicate below the scan,
      // so 31/32 of the ticks are dropped at the source — before the
      // exchange and the stateful fold. The pushdown's scale dividend,
      // measured against renko_14m_32series
      "renko_14m_pushdown_1of32" -> (s => {
        GraftExtensions.registerTvfs(s)
        synthTicks(s, 14700000L, 32).createOrReplaceTempView("bench_14m_ticks")
        s.sql("SELECT * FROM graft_renko('bench_14m_ticks', 1.0, 'wicks', 'symbol', 'us') " +
          "WHERE symbol = '7'")
      }),
      // FEW simultaneously-huge series: the multi-series parallel scan
      // (per-symbol range partitioning + per-symbol stitch) — parallelism
      // stays 32 even though there are only 4 series
      "renko_14m_4series_parallel" -> (s => RenkoModes.project(
        Renko.fromTicksParallel(synthTicks(s, 14700000L, 4), 1.0, tsUnit = "us",
          symbolCol = Some("symbol")), "wicks")),
      // pre-ordered input (range output is globally id-ordered, partitions
      // time-contiguous): the sorted PARALLEL stitch — no exchange, no sort,
      // source partitions scanned as-is. Must beat renko_14m_1series, which
      // pays the range repartition + per-partition sort on the same data
      // (the coalesce(1) single-task form this replaced measured 2.3 s —
      // sequential by construction, not a parallel path at all)
      "renko_14m_sorted_scan" -> (s => RenkoModes.project(
        Renko.fromSortedTicksParallel(synthTicks(s, 14700000L, 1), 1.0, tsUnit = "us"), "wicks")),
      // INTERLEAVED A/B (r12 verdict: the round-close artifact showed
      // sorted SLOWER than generic purely from sweep order — sorted ran
      // 5th at load1 10-12, 1series first at 4-6.5). Each rep times ONE
      // generic build and ONE sorted build back-to-back in the same load
      // window, so the comparison can never be load-confounded again. The
      // per-path seconds (and each scan's internal phases, prefixed
      // gen/srt) land in this entry's diag phases; the entry's headline
      // time is the pair sum. 4 reps = 4 same-window comparisons.
      "renko_14m_sorted_vs_generic_ab" -> (s => {
        // buffer the relabeled marks and emit them only after BOTH paths
        // ran — re-logging inside the loop would feed the first path's
        // entries back into the drain of the second
        val relabeled = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        def timed(tag: String)(run: => Long): Unit = {
          val t0 = System.nanoTime()
          run
          val sec = (System.nanoTime() - t0) / 1e9
          // the scan's own phase marks under the path's prefix so the two
          // scans' identical phase names don't collide in the diag
          relabeled ++= Renko.drainPhaseLog().map { case (p, v) => s"$tag ${p.trim}" -> v }
          relabeled += (s"$tag total" -> sec)
        }
        timed("gen") {
          RenkoModes.project(
            Renko.fromTicksParallel(synthTicks(s, 14700000L, 1), 1.0, tsUnit = "us"),
            "wicks").count()
        }
        timed("srt") {
          RenkoModes.project(
            Renko.fromSortedTicksParallel(synthTicks(s, 14700000L, 1), 1.0, tsUnit = "us"),
            "wicks").count()
        }
        relabeled.foreach { case (p, v) => Renko.logPhase(p, v) }
        s.range(1).toDF()
      }),
      "q1_agg" -> q("q1_agg"),
      "q4_multijoin" -> q("q4_multijoin"),
      "q5_window_topk" -> q("q5_window_topk"),
      "renko_wicks" -> q("renko_wicks"),
      "renko_multi_series" -> q("renko_multi_series"),
      "renko_ws_replay" -> q("renko_ws_replay"),
      // r16: the animate frame (driver-gated this round) — retention +
      // single-key, and the multi-key in-plan variant
      "renko_animate_wicks" -> q("renko_animate_wicks"),
      "renko_animate_nongap" -> q("renko_animate_nongap"),
      "dedup_exact" -> q("dedup_exact"),
      "dedup_ngram_jaccard" -> q("dedup_ngram_jaccard"),
      "dedup_minhash_lsh" -> q("dedup_minhash_lsh"),
      "dedup_minhash_lsh_capped" -> q("dedup_minhash_lsh_capped"),
      "dedup_simhash" -> q("dedup_simhash"),
      "sim_topk_bruteforce" -> q("sim_topk_bruteforce"),
      "sim_topk_lsh" -> q("sim_topk_lsh"),
      "sim_topk_ivf" -> q("sim_topk_ivf"),
      "sim_topk_quantized" -> q("sim_topk_quantized"),
      "sample_stratified" -> q("sample_stratified"),
      "dedup_clusters" -> q("dedup_clusters"),
      "q17_time_window" -> q("q17_time_window"),
      "text_quality" -> q("text_quality"),
      "text_winnow" -> q("text_winnow"),
      "text_repetition" -> q("text_repetition"),
      "text_decontaminate" -> q("text_decontaminate"),
      "text_fingerprint" -> q("text_fingerprint"),
      "dedup_stream_replay" -> q("dedup_stream_replay"),
      "mm_decode_features" -> q("mm_decode_features"),
      "text_chunk" -> q("text_chunk"),
      "dedup_spans" -> q("dedup_spans"),
      "dedup_span_removal" -> q("dedup_span_removal"),
      // r12: collision-verified twins — the delta over the hash-keyed forms
      // prices the gram-text confirmation pass on the flagged slice
      "dedup_spans_verified" -> q("dedup_spans_verified"),
      "dedup_span_removal_verified" -> q("dedup_span_removal_verified"),
      "dedup_span_provenance" -> q("dedup_span_provenance"),
      "text_bm25" -> q("text_bm25"),
      "sample_mixture" -> q("sample_mixture"),
      "emb_outliers" -> q("emb_outliers"),
      "text_pack" -> q("text_pack"),
      "events_asof" -> q("events_asof"),
      "events_sessions_range" -> q("events_sessions_range"),
      "text_vocab_sketch" -> q("text_vocab_sketch"),
      "events_session_window" -> q("events_session_window"),
      "search_hybrid_rrf" -> q("search_hybrid_rrf"),
      "text_decontaminate_bloom" -> q("text_decontaminate_bloom"),
      "dedup_incremental" -> q("dedup_incremental"),
      "q19_salted_join" -> q("q19_salted_join"),
      "dedup_keepers" -> q("dedup_keepers"),
      "corpus_report" -> q("corpus_report"),
      "mm_similar_media" -> q("mm_similar_media"),
      "q20_pivot" -> q("q20_pivot"),
      // r5 judge: representative operators whose perf was unmeasured
      "renko_to_rws" -> q("renko_to_rws"),
      "q18_sessionize" -> q("q18_sessionize"),
      "dedup_cosine_neardup" -> q("dedup_cosine_neardup"),
      "text_winnow_neardup" -> q("text_winnow_neardup"),
      "sample_fixed_k" -> q("sample_fixed_k"),
      "text_top_terms" -> q("text_top_terms"),
      "mm_frame_sample" -> q("mm_frame_sample"),
      "q21_json_extract" -> q("q21_json_extract"),
      "dedup_admission_replay" -> q("dedup_admission_replay"),
      "sim_topk_ivf_indexed" -> q("sim_topk_ivf_indexed"),
      "sim_topk_ivf_appended" -> q("sim_topk_ivf_appended"),
      "sim_topk_ivf_deleted" -> q("sim_topk_ivf_deleted"),
      "sim_topk_ivf_sq8" -> q("sim_topk_ivf_sq8"),
      "sim_topk_ivf_pq" -> q("sim_topk_ivf_pq"),
      "pipeline_curate" -> q("pipeline_curate"),
      "pipeline_curate_classified" -> q("pipeline_curate_classified"),
      "corpus_diff" -> q("corpus_diff"),
      "sample_token_budget" -> q("sample_token_budget"),
      "sample_shuffle_order" -> q("sample_shuffle_order"),
      "text_lm_score" -> q("text_lm_score"),
      "text_boilerplate_removal" -> q("text_boilerplate_removal"),
      "emb_covariance" -> q("emb_covariance"),
      "emb_pca" -> q("emb_pca"),
      "events_funnel" -> q("events_funnel"),
      "events_retention" -> q("events_retention"),
      "pipeline_curate_budget" -> q("pipeline_curate_budget"),
      "pipeline_curate_stream" -> q("pipeline_curate_stream"),
      "pipeline_curate_stream_classified" -> q("pipeline_curate_stream_classified"),
      "search_hybrid_rrf_indexed" -> q("search_hybrid_rrf_indexed"),
      "dedup_semantic" -> q("dedup_semantic"),
      "export_shards" -> q("export_shards"),
      "export_shards_balanced" -> q("export_shards_balanced"),
      "export_jsonl_manifest" -> q("export_jsonl_manifest"),
      "source_jsonl_ingest" -> q("source_jsonl_ingest"),
      "source_jsonl_quarantine" -> q("source_jsonl_quarantine"),
      "source_jsonl_reprocess" -> q("source_jsonl_reprocess"),
      "text_decontaminate_spans" -> q("text_decontaminate_spans"),
      "text_decontaminate_spans_verified" -> q("text_decontaminate_spans_verified"),
      "text_contamination_provenance" -> q("text_contamination_provenance"),
      "sample_dsir" -> q("sample_dsir"),
      "text_nb_classifier" -> q("text_nb_classifier"),
      "sample_temperature" -> q("sample_temperature"),
      // r8: lexical serving index (build + pruned probe), fully-served
      // hybrid, block dedup, CMS heavy hitters, per-domain cap, gopher gate
      "text_bm25_indexed" -> q("text_bm25_indexed"),
      "search_hybrid_rrf_served" -> q("search_hybrid_rrf_served"),
      "dedup_blocks" -> q("dedup_blocks"),
      "text_top_terms_cms" -> q("text_top_terms_cms"),
      "sample_source_cap" -> q("sample_source_cap"),
      "text_gopher_rules" -> q("text_gopher_rules"),
      "emb_kmeans" -> q("emb_kmeans"),
      "sim_topk_ivf_trained" -> q("sim_topk_ivf_trained"),
      "sim_topk_ivf_pq_trained" -> q("sim_topk_ivf_pq_trained"),
      "text_bm25_appended" -> q("text_bm25_appended"),
      "text_bm25_streamed" -> q("text_bm25_streamed"),
      "text_bm25_deleted" -> q("text_bm25_deleted"),
      "pipeline_curate_gopher" -> q("pipeline_curate_gopher"),
      "pipeline_curate_stream_gopher" -> q("pipeline_curate_stream_gopher"),
      "dedup_blocks_stream" -> q("dedup_blocks_stream"),
      "dedup_spans_stream" -> q("dedup_spans_stream"),
      "dedup_span_removal_stream" -> q("dedup_span_removal_stream"),
      "corpus_overlap_matrix" -> q("corpus_overlap_matrix"),
      "text_bpe_merges" -> q("text_bpe_merges"),
      "text_bpe_tokenize" -> q("text_bpe_tokenize"),
      "corpus_drift" -> q("corpus_drift"),
      "corpus_drift_stream" -> q("corpus_drift_stream"),
      "sample_length_stratified" -> q("sample_length_stratified"),
      "pipeline_curate_funnel" -> q("pipeline_curate_funnel"),
      // r9: worst maintained serving state — 10 append epochs + tombstones,
      // probed without compaction (planning pays one merged meta read).
      // The un-suffixed entries time BUILD + probe (the query-contract
      // closure rebuilds the store every call — construction dominates);
      // the _probe twins time the probe ALONE against a store built
      // untimed in main, which is the serving-latency number the
      // flat-cost probe design is accountable to
      "text_bm25_epochs" -> q("text_bm25_epochs"),
      "sim_topk_ivf_epochs" -> q("sim_topk_ivf_epochs"),
      "text_bm25_epochs_probe" -> (s =>
        operators.TextIndex.bm25TopK(s, preparedEpochLex(s, sfDir),
          Seq("dup", "vector", "join", "slow"), k = 20).orderBy(col("rank"))),
      "sim_topk_ivf_epochs_probe" -> (s =>
        operators.IvfIndex.probe(s, preparedEpochIvf(s, sfDir),
          s.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 10), 5)
          .orderBy(col("query_id"), col("rank"))),
      "mm_decode_ppm" -> q("mm_decode_ppm"),
      // r9 session 2: real audio decode, SQL serving TVFs, and the
      // Catalyst symbol-pushdown path (one series' ticks folded, not all)
      "mm_decode_wav" -> q("mm_decode_wav"),
      "mm_decode_avi" -> q("mm_decode_avi"),
      "text_normalize" -> q("text_normalize"),
      "text_script" -> q("text_script"),
      "text_bm25_tvf" -> q("text_bm25_tvf"),
      "sim_topk_ivf_tvf" -> q("sim_topk_ivf_tvf"),
      "sim_topk_ivf_filtered" -> q("sim_topk_ivf_filtered"),
      "text_bm25_filtered" -> q("text_bm25_filtered"),
      "emb_mean_pool" -> q("emb_mean_pool"),
      "renko_tvf_pushdown" -> q("renko_tvf_pushdown"),
      "pipeline_curate_stream_funnel" -> q("pipeline_curate_stream_funnel"),
      // r10: the remaining round-9 families the round-over-round diff
      // could not see, plus the round-10 additions (ImageIO decode,
      // deflation PCA, serving-TVF WHERE pushdown)
      "mm_resize_ppm" -> q("mm_resize_ppm"),
      "mm_resample_wav" -> q("mm_resample_wav"),
      "mm_decode_png" -> q("mm_decode_png"),
      "mm_near_dup_pairs" -> q("mm_near_dup_pairs"),
      // r14: z-order layout family (pruning = zonemap + assignment math)
      // and the leakage-safe grouped split
      "layout_zorder" -> q("layout_zorder"),
      "layout_zorder_pruning" -> q("layout_zorder_pruning"),
      "sample_split_grouped" -> q("sample_split_grouped"),
      "sim_topk_ivf_recall" -> q("sim_topk_ivf_recall"),
      "text_classifier_pr_curve" -> q("text_classifier_pr_curve"),
      "layout_hilbert_pruning" -> q("layout_hilbert_pruning"),
      "sample_split_leakage" -> q("sample_split_leakage"),
      // r15: the composed end-to-end chain, the per-group shard deal it
      // uses, and the WAV perceptual near-dup twin
      "pipeline_e2e" -> q("pipeline_e2e"),
      "pipeline_e2e_resume" -> q("pipeline_e2e_resume"),
      "export_shards_grouped" -> q("export_shards_grouped"),
      "mm_wav_near_dup_pairs" -> q("mm_wav_near_dup_pairs"),
      "mm_wav_near_dup_clusters" -> q("mm_wav_near_dup_clusters"),
      "mm_wav_near_dup_keepers" -> q("mm_wav_near_dup_keepers"),
      "mm_near_dup_clusters" -> q("mm_near_dup_clusters"),
      "mm_near_dup_keepers" -> q("mm_near_dup_keepers"),
      "emb_pca_topk" -> q("emb_pca_topk"),
      "events_funnel_stream" -> q("events_funnel_stream"),
      "events_retention_stream" -> q("events_retention_stream"),
      // r13: the microbatch floor characterized IN EPOCHS — 1/10-epoch
      // twins of the 3-epoch streaming folds (events_funnel_stream,
      // pipeline_curate_stream); time(E) ~ floor + slope*E adjudicates
      // whether the stream-vs-batch gap is a constant or grows per epoch
      "events_funnel_stream_ep1" -> (s => funnelStreamFold(s, sfDir, 1)),
      "events_funnel_stream_ep10" -> (s => funnelStreamFold(s, sfDir, 10)),
      "pipeline_curate_stream_ep1" -> (s => curateStreamFold(s, sfDir, 1)),
      "pipeline_curate_stream_ep10" -> (s => curateStreamFold(s, sfDir, 10)),
      "text_bm25_tvf_pushdown" -> q("text_bm25_tvf_pushdown"),
      "sim_topk_ivf_tvf_pushdown" -> q("sim_topk_ivf_tvf_pushdown"),
      "sim_topk_ivf_sq8_filtered" -> q("sim_topk_ivf_sq8_filtered"),
      "sim_topk_ivf_pq_filtered" -> q("sim_topk_ivf_pq_filtered"),
      "emb_covariance_stream" -> q("emb_covariance_stream"),
      "emb_pca_stream" -> q("emb_pca_stream"),
      "emb_whiten" -> q("emb_whiten"),
      "sim_topk_ivf_sq8_tvf" -> q("sim_topk_ivf_sq8_tvf"),
      "sim_topk_ivf_pq_tvf" -> q("sim_topk_ivf_pq_tvf"),
      "sample_split" -> q("sample_split"),
      // r12: pushdown over quantized rungs + the subquery post-filter path
      "sim_topk_ivf_sq8_tvf_pushdown" -> q("sim_topk_ivf_sq8_tvf_pushdown"),
      "sim_topk_ivf_pq_tvf_pushdown" -> q("sim_topk_ivf_pq_tvf_pushdown"),
      "sim_topk_ivf_tvf_subquery" -> q("sim_topk_ivf_tvf_subquery"),
      "text_bm25_tvf_subquery" -> q("text_bm25_tvf_subquery"),
      // r13: the subquery post-filter over the quantized rungs
      "sim_topk_ivf_sq8_tvf_subquery" -> q("sim_topk_ivf_sq8_tvf_subquery"),
      "sim_topk_ivf_pq_tvf_subquery" -> q("sim_topk_ivf_pq_tvf_subquery"),
      // r12: probe-ONLY twins for every serving entry (store pre-built
      // untimed in main) — the serving-latency numbers; each un-suffixed
      // twin above still times build+probe, so BOTH numbers ship
      // r13: CONCURRENT serving — 8 parallel TVF queries (4 graft_ann + 4
      // graft_bm25) with DISTINCT predicates against prebuilt stores. Every
      // s.sql() parses a fresh node (per-node probeCache), so all 8 probes
      // hit the cache-MISS planning path simultaneously — the workload the
      // lock-free ProbePlanning redesign exists for. The entry's wall time
      // is the 8-way makespan; per-query p50/max land in the diag phases
      // (compare against the single-probe *_probe twins: lock-free planning
      // should put the makespan near the slowest single probe, nowhere near
      // the 8x serial sum)
      "serving_tvf_concurrent8" -> (s => {
        GraftExtensions.registerTvfs(s)
        val ivf = store(s, sfDir, "ivf_label")
        val lex = store(s, sfDir, "lex_lang")
        s.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 10)
          .createOrReplaceTempView("bench_conc_q")
        val sqls =
          Seq("label % 2 = 0", "label % 2 = 1", "label % 3 = 0", "label % 3 = 1").map(p =>
            s"""SELECT query_id, rank, neighbor_id, cos_sim
               |FROM graft_ann('$ivf', 'bench_conc_q', 5, 4)
               |WHERE $p ORDER BY query_id, rank""".stripMargin) ++
          Seq("lang = 'en'", "lang = 'de'", "lang = 'fr'", "lang = 'zh'").map(p =>
            s"""SELECT doc_id, rank, bm25
               |FROM graft_bm25('$lex', 'dup,vector,join,slow', 20)
               |WHERE $p ORDER BY rank""".stripMargin)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(sqls.size)
        val lats =
          try {
            import scala.concurrent.{Await, ExecutionContext, Future}
            import scala.concurrent.duration._
            implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
            Await.result(
              Future.sequence(sqls.map(sql => Future {
                val t0 = System.nanoTime()
                s.sql(sql).count()
                (System.nanoTime() - t0) / 1e9
              })), 10.minutes)
          } finally pool.shutdown()
        val sorted = lats.sorted
        Renko.logPhase("conc8 p50", medianOf(sorted))
        Renko.logPhase("conc8 max", sorted.last)
        s.range(sorted.size.toLong).toDF()
      }),
      // r13 verdict #3: the serving engine's bad day — 32 concurrent
      // probes WHILE ingest appends land and auto-compaction (forced via
      // maxLiveTrees = 2) folds the trees mid-flight. The probes mix
      // metadata-cache hits and misses naturally: every committed epoch
      // rotates the FS signature, so probes planned after a commit
      // recompute centroids/stats while in-flight ones keep the snapshot
      // their plan captured. Phases: p50/p95/max over the 32 probes +
      // the churn ops' own span. Bit-level churn atomicity (probe == pre-
      // or post-append twin, never a blend) is pinned in ExtensionsSpec.
      //
      // r16 verdict #2: the rep times the CHURN PHASE ONLY. The quiet
      // twin (same 32 probes, no churn) is measured ONCE per sweep,
      // untimed, in main's prep — it had been running inside every timed
      // rep, so the headline carried quiet-calibration cost and drifted
      // with its planning noise (4.55 → 7.35 → 10.69 s across rounds on a
      // healthy plan). The p95 <= 3x quiet-p50 budget is unchanged; a
      // post-rep cool-down barrier in the rep loop keeps one rep's
      // runaway churn from echoing into the next.
      "serving_mixed_churn" -> (s => {
        GraftExtensions.registerTvfs(s)
        val ivf = store(s, sfDir, "ivf_churn")
        val lex = store(s, sfDir, "lex_churn")
        val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
        val docs = s.read.parquet(s"$sfDir/documents.parquet")
        val sqls = churnProbeSqls(s, sfDir, ivf, lex)
        val quietP50 = churnQuietP50
        require(quietP50 > 0,
          "serving_mixed_churn quiet twin not measured (main prep must run it)")
        val pool = java.util.concurrent.Executors.newFixedThreadPool(sqls.size + 1)
        try {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration._
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          val churn = Future {
            val t0 = System.nanoTime()
            val k = churnSlice.getAndIncrement() % 16
            // maxLiveTrees = 2 forces a compaction per rep; the sweep grace
            // is what keeps the in-flight probes alive through it (the
            // first run of this entry, graceless, failed probes with
            // FAILED_READ_FILE mid-compaction — the defect this entry
            // exists to catch)
            graft.streaming.IvfIngest.ingestBatch(
              emb.filter(col("vec_id") >= 1600 + 25 * k && col("vec_id") < 1625 + 25 * k),
              ivf, churnTick.getAndIncrement(), maxLiveTrees = 2,
              sweepGraceMs = 600000L)
            graft.streaming.TextIngest.ingestBatch(
              docs.filter(col("doc_id") >= 4000 + 50 * k && col("doc_id") < 4050 + 50 * k),
              lex, churnTick.getAndIncrement(), maxLiveTrees = 2,
              sweepGraceMs = 600000L)
            (System.nanoTime() - t0) / 1e9
          }
          val lats = Await.result(Future.sequence(sqls.map(q => Future {
            val t0 = System.nanoTime()
            s.sql(q).count()
            (System.nanoTime() - t0) / 1e9
          })), 10.minutes)
          val churnSec = Await.result(churn, 10.minutes)
          val sorted = lats.sorted
          val p95 = sorted(math.min(sorted.size - 1, math.ceil(sorted.size * 0.95).toInt - 1))
          Renko.logPhase("churn32 quiet p50", quietP50)
          Renko.logPhase("churn32 budget p95<=", 3 * quietP50)
          Renko.logPhase("churn32 p50", medianOf(sorted))
          Renko.logPhase("churn32 p95", p95)
          Renko.logPhase("churn32 max", sorted.last)
          Renko.logPhase("churn32 ops", churnSec)
          require(p95 <= 3 * quietP50,
            f"serving churn budget blown: p95 $p95%.3f s > 3x quiet p50 $quietP50%.3f s " +
              "(probes are stalling under ingest/compaction churn)")
        } finally pool.shutdown()
        s.range(sqls.size.toLong).toDF()
      }),
      "sim_topk_ivf_tvf_probe" -> (s => {
        GraftExtensions.registerTvfs(s)
        s.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 10)
          .createOrReplaceTempView("bench_ann_probe_q")
        s.sql(s"SELECT * FROM graft_ann('${store(s, sfDir, "ivf_label")}', " +
          "'bench_ann_probe_q', 5, 4) ORDER BY query_id, rank")
      }),
      "sim_topk_ivf_tvf_pushdown_probe" -> (s => {
        GraftExtensions.registerTvfs(s)
        s.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 10)
          .createOrReplaceTempView("bench_ann_pd_probe_q")
        s.sql(s"""SELECT query_id, rank, neighbor_id, cos_sim
                  |FROM graft_ann('${store(s, sfDir, "ivf_label")}', 'bench_ann_pd_probe_q', 5, 4)
                  |WHERE label % 2 = 0 ORDER BY query_id, rank""".stripMargin)
      }),
      "text_bm25_tvf_probe" -> (s => {
        GraftExtensions.registerTvfs(s)
        s.sql(s"SELECT * FROM graft_bm25('${store(s, sfDir, "lex_lang")}', " +
          "'dup,vector,join,slow', 20) ORDER BY rank")
      }),
      "text_bm25_tvf_pushdown_probe" -> (s => {
        GraftExtensions.registerTvfs(s)
        s.sql(s"""SELECT doc_id, rank, bm25
                  |FROM graft_bm25('${store(s, sfDir, "lex_lang")}', 'dup,vector,join,slow', 20)
                  |WHERE lang = 'en' ORDER BY rank""".stripMargin)
      }),
      "sim_topk_ivf_sq8_tvf_probe" -> (s => {
        GraftExtensions.registerTvfs(s)
        s.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 10)
          .createOrReplaceTempView("bench_ann_sq8_probe_q")
        s.sql(s"SELECT * FROM graft_ann('${store(s, sfDir, "ivf_sq8")}', " +
          "'bench_ann_sq8_probe_q', 5, 4) ORDER BY query_id, rank")
      }),
      "sim_topk_ivf_pq_tvf_probe" -> (s => {
        GraftExtensions.registerTvfs(s)
        s.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 10)
          .createOrReplaceTempView("bench_ann_pq_probe_q")
        s.sql(s"SELECT * FROM graft_ann('${store(s, sfDir, "ivf_pq")}', " +
          "'bench_ann_pq_probe_q', 5, 4) ORDER BY query_id, rank")
      }),
      "sim_topk_ivf_appended_probe" -> (s =>
        operators.IvfIndex.probe(s, store(s, sfDir, "ivf_app"),
          s.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 10), 5)
          .orderBy(col("query_id"), col("rank"))),
      "text_bm25_appended_probe" -> (s =>
        operators.TextIndex.bm25TopK(s, store(s, sfDir, "lex_app"),
          Seq("dup", "vector", "join", "slow"), k = 20).orderBy(col("rank"))),
      "sim_topk_ivf_streamed_probe" -> (s =>
        operators.IvfIndex.probe(s, store(s, sfDir, "ivf_str"),
          s.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 10), 5)
          .orderBy(col("query_id"), col("rank"))),
      "text_bm25_streamed_probe" -> (s =>
        operators.TextIndex.bm25TopK(s, store(s, sfDir, "lex_str"),
          Seq("dup", "vector", "join", "slow"), k = 20).orderBy(col("rank"))),
      "search_hybrid_rrf_served_probe" -> (s =>
        operators.Search.hybridRrfTopKServed(s, store(s, sfDir, "lex_plain"),
          store(s, sfDir, "ivf_plain"),
          s.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") === 0L),
          Seq("dup", "vector", "join", "slow"), k = 20)
          .orderBy(col("rank")))
    )
  }

  /** Names the length-budgeted stdout line must carry FIRST (the driver's
    * BENCH_rN round-over-round diff only sees what fits). Since r18 only
    * the first six entries (the baseline renko_14m workloads — the
    * vs-BASELINE anchor) are pinned; everything else rides the line in
    * DESCENDING-COST order so the expensive entries always make the cut
    * (r17 verdict #6). The rest of this list is kept for the historical
    * record of what the pre-r18 priority order was; the full map is
    * always in BENCH_SELF.json.
    */
  private val linePriority: Seq[String] = Seq(
    "renko_14m_1series", "renko_14m_32series", "renko_14m_pushdown_1of32",
    "renko_14m_4series_parallel", "renko_14m_sorted_scan",
    "renko_14m_sorted_vs_generic_ab",
    "events_funnel", "events_funnel_stream", "events_retention",
    "events_retention_stream",
    "events_funnel_stream_ep1", "events_funnel_stream_ep10",
    "pipeline_curate_stream_ep1", "pipeline_curate_stream_ep10",
    "emb_covariance", "emb_pca", "emb_pca_topk", "emb_kmeans", "emb_mean_pool",
    "mm_decode_ppm", "mm_decode_png", "mm_decode_wav", "mm_decode_avi",
    "mm_resize_ppm", "mm_resample_wav",
    "sim_topk_ivf_filtered", "text_bm25_filtered",
    "sim_topk_ivf_sq8_filtered", "sim_topk_ivf_pq_filtered",
    "emb_covariance_stream", "emb_pca_stream",
    "sim_topk_ivf_tvf", "text_bm25_tvf",
    "sim_topk_ivf_tvf_pushdown", "text_bm25_tvf_pushdown", "renko_tvf_pushdown",
    "text_bm25_epochs_probe", "sim_topk_ivf_epochs_probe",
    // r12: the probe-only serving twins + the new pushdown/subquery paths
    // lead the line so the driver diff sees serving-latency regressions
    "serving_mixed_churn",
    "sim_topk_ivf_tvf_probe", "text_bm25_tvf_probe",
    "sim_topk_ivf_tvf_pushdown_probe", "text_bm25_tvf_pushdown_probe",
    "sim_topk_ivf_sq8_tvf_probe", "sim_topk_ivf_pq_tvf_probe",
    "sim_topk_ivf_appended_probe", "text_bm25_appended_probe",
    "sim_topk_ivf_streamed_probe", "text_bm25_streamed_probe",
    "search_hybrid_rrf_served_probe",
    "sim_topk_ivf_sq8_tvf_pushdown", "sim_topk_ivf_pq_tvf_pushdown",
    "sim_topk_ivf_tvf_subquery", "text_bm25_tvf_subquery",
    // r13: concurrent serving makespan + the quantized subquery twins
    "serving_tvf_concurrent8",
    "sim_topk_ivf_sq8_tvf_subquery", "sim_topk_ivf_pq_tvf_subquery",
    // r12 session 2: the verified span surface + its audit trail + the
    // streaming admission screen
    "dedup_spans_verified", "dedup_span_removal_verified",
    "text_decontaminate_spans_verified", "dedup_span_provenance",
    "dedup_spans_stream",
    "text_normalize", "text_script",
    // r14: the layout family + grouped split
    "layout_zorder", "layout_zorder_pruning", "sample_split_grouped",
    "sim_topk_ivf_recall", "text_classifier_pr_curve", "layout_hilbert_pruning",
    "sample_split_leakage",
    // r15: the e2e chain + its per-group deal + the WAV near-dup family
    "pipeline_e2e", "export_shards_grouped", "mm_wav_near_dup_pairs",
    "mm_wav_near_dup_clusters", "mm_wav_near_dup_keepers",
    // r17: the resumable chain, the capped-LSH audit, the reprocess loop
    "pipeline_e2e_resume", "dedup_minhash_lsh_capped", "source_jsonl_reprocess")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // diagnostics knob (local iteration only; the driver never sets it):
      // the curate-stream slope decomposes into ~20 near-empty AQE
      // stage-jobs per epoch — GRAFT_AQE=false measures how much of the
      // per-epoch constant is AQE re-planning vs real work
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("GRAFT_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.SparkLogNoise.suppressAccumulatorUpdateErrors()

    // untimed actions to absorb session/JIT/codegen warmup, incl. the typed
    // shuffle+sort+scan path the renko workloads use
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).count()
    Renko.fromTicks(synthTicks(spark, 200000L, 2), 1.0,
      symbolCol = Some("symbol"), tsUnit = "us").count()
    // pin the calibration probe's quiet base AFTER warmup (JIT settled):
    // min-of-5, so one scheduler hiccup cannot inflate the base and make
    // every later rep look clean
    calibBase = (1 to 5).map(_ => calibOnce()).min
    System.err.println(f"[bench] calib base $calibBase%.3f s (${Runtime.getRuntime.availableProcessors()} spin threads)")

    // optional comma-separated headline filter (local iteration only; the
    // driver sets no filter and measures everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // untimed prep for the probe-only serving entries (skipped when the
    // filter excludes them)
    if (only.forall(_.contains("text_bm25_epochs_probe"))) preparedEpochLex(spark, sfDir)
    if (only.forall(_.contains("sim_topk_ivf_epochs_probe"))) preparedEpochIvf(spark, sfDir)
    probeStoreKeys.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap(_._2).distinct
      .foreach(k => store(spark, sfDir, k))
    // the churn entry's quiet twin, once per sweep, untimed (r16 #2)
    if (only.forall(_.contains("serving_mixed_churn")))
      measureChurnQuiet(spark, sfDir)
    val results = headline(sfDir)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, mk) =>
      // hygiene, uniformly for EVERY query and rep (r2 lesson: late queries
      // "regressed" purely from state left behind by earlier ones):
      //  - clearCache() so no CacheManager entry from any prior query can
      //    alias into this plan (operators no longer persist, but a clean
      //    slate per measurement is cheap insurance);
      //  - System.gc() so the ContextCleaner reaps the previous query's
      //    checkpointed RDD blocks before this one is timed, instead of
      //    during it;
      //  - min of 2 independent reps so one GC/JIT hiccup cannot masquerade
      //    as a regression, with per-rep times printed for auditability.
      // the 14M-tick baseline workloads get extra reps: their first rep
      // absorbs the sort-buffer/JIT ramp (measured 6.1 s vs 2.4 s steady
      // state), and the scan's phase marks in the diag show job-level
      // jitter up to several x on this host — one slow rep must not
      // masquerade as a regression in the ONE number compared against
      // BASELINE.md, so take min-of-4 there
      // min-of-3 everywhere (r11 judge: >1 s queries at min-of-2 left the
      // dedup_clusters/sim_topk_quantized drift unadjudicatable); the
      // 14M-tick baseline workloads keep min-of-4
      val reps = if (name.startsWith("renko_14m")) 4 else 3
      Renko.drainPhaseLog() // discard marks from any earlier untimed work
      // arm the job2 stall watchdog for the workloads where the spike was
      // observed (r11–r13): a generous absolute threshold for rep 1
      // (healthy job2 is ≤0.6 s; the spikes are ≥5 s), then 3x the
      // entry's own rep-median once one is known — so a recurrence dumps
      // threads IN the rep that stalls, not after the fact
      val job2Hist = scala.collection.mutable.ArrayBuffer.empty[Double]
      if (name.startsWith("renko_14m"))
        graft.util.StallDiag.stallThresholdSec = 6.0
      def oneRep(): Rep = {
        spark.catalog.clearCache()
        System.gc()
        val (admWait, calibRatio, calibOk) = admitRep()
        val loadPre = loadAvg()
        val t0 = System.nanoTime()
        val n = try mk(spark).count() catch {
          case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1L
        }
        val sec = (System.nanoTime() - t0) / 1e9
        var rep = Rep(sec, n, loadPre, loadAvg(), Renko.drainPhaseLog(), admWait,
          calibRatio, calibOk)
        // cool-down barrier after each churn rep (r16 verdict #2): rep N's
        // runaway churn (compaction sweeps, deferred deletes, GC debt)
        // must not echo into rep N+1 — reap and drain BEFORE the next rep
        // is admitted; the wait lands in this rep's diag (`cool`)
        if (name == "serving_mixed_churn") {
          System.gc()
          var c = 0
          while (c < 30 && runningProcs() > 4) { Thread.sleep(1000L); c += 1 }
          rep = rep.copy(cool = c.toDouble)
        }
        if (name.startsWith("renko_14m")) {
          job2Hist ++= rep.phases.collect {
            case (p, v) if p.endsWith("job2 suffix+ckpt") => v
          }
          if (job2Hist.nonEmpty)
            graft.util.StallDiag.stallThresholdSec =
              math.max(3 * medianOf(job2Hist.sorted.toSeq), 1.5)
        }
        rep
      }
      val times =
        try (1 to reps).map(_ => oneRep())
        finally graft.util.StallDiag.stallThresholdSec = Double.PositiveInfinity
      val clean = times.filter(_.clean)
      val best =
        if (clean.nonEmpty) clean.minBy(_.sec)
        else if (times.exists(_.ok)) times.filter(_.ok).minBy(_.sec)
        else times.minBy(_.sec)
      val repStr = times.map(t =>
        f"${t.sec}%.3f" + (if (!t.ok) "!INVALID"
        else if (!t.calibOk) "!CONTENDED" else "")).mkString(" / ")
      System.err.println(
        f"[bench] $name%-22s ${headlineOf(name, times)}%8.3f s  (reps: $repStr; ${best.rows} rows)")
      name -> times
    }
    val qs = results
      .map { case (k, ts) => "\"" + k + "\":" + headlineOf(k, ts) }
      .mkString("{", ",", "}")
    // stdout-line form of the metric map: the driver parses the LAST ~2000
    // chars of captured stdout, and sbt's own "[success] Total time ..."
    // trailer rides behind our line inside that window. r6 AND r7 both
    // shipped parsed:null because the full-precision map outgrew the
    // window, so the line is now LENGTH-BUDGETED: entries are included in
    // run order (the four baseline renko_14m workloads run first, so they
    // always make the cut) at 3-dp precision until the budget is reached;
    // every query at full precision is in BENCH_SELF.json regardless.
    val lineBudget = 1600
    // the six baseline renko_14m workloads first (the driver's
    // vs-BASELINE anchor must always make the cut), then EVERYTHING ELSE
    // BY DESCENDING COST (r18, r17 verdict #6): the driver's per-query
    // round-over-round diff only sees what fits the line budget, and
    // run-order/priority-order truncation dropped 10 of the 12 most
    // expensive queries — exactly the ones optimization rounds touch —
    // so its geomean measured the noise floor of sub-second entries.
    // Additions-only: same keys, same values, same budget; only the
    // ordering (hence which entries survive truncation) changes.
    val baselineFirst = linePriority.take(6)
    val lineRank = baselineFirst.zipWithIndex.toMap
    val qsParts = results
      .sortBy { case (k, ts) =>
        (lineRank.getOrElse(k, baselineFirst.size), -headlineOf(k, ts)) }
      .map { case (k, ts) =>
        "\"" + k + "\":" + f"${headlineOf(k, ts)}%.3f"
      }
    // self-diagnosis block (r5 lesson: a contention-polluted artifact was
    // indistinguishable from a regression without a manual judge re-run):
    // per-rep wall times, 1-min loadavg + run-queue depth before/after each
    // rep, and — for the parallel-scan workloads — the scan's own phase
    // timings, so a slow rep carries its cause inside the artifact
    val diag = results.map { case (k, ts) =>
      val repsJ = ts.map(t => f"${t.sec}%.3f").mkString("[", ",", "]")
      val loadJ = ts.map(t => f"[${t.loadPre._1}%.2f,${t.loadPost._1}%.2f]")
        .mkString("[", ",", "]")
      val runqJ = ts.map(t => s"""["${t.loadPre._2}","${t.loadPost._2}"]""")
        .mkString("[", ",", "]")
      val phasesJ =
        if (ts.forall(_.phases.isEmpty)) ""
        else "," + ts.map(_.phases
            .map { case (p, s) => "\"" + p.trim + "\":" + f"$s%.3f" }
            .mkString("{", ",", "}"))
          .mkString("\"phases\":[", ",", "]")
      // rep validity (false = threw / blew its budget; headline excludes
      // it) + admission waits, present only when something actually happened
      val okJ =
        if (ts.forall(_.ok)) ""
        else ts.map(_.ok).mkString(",\"ok\":[", ",", "]")
      val admJ =
        if (ts.forall(_.adm == 0.0)) ""
        else ts.map(t => f"${t.adm}%.0f").mkString(",\"adm\":[", ",", "]")
      // per-rep calibration ratios ride every entry (the admission gate's
      // evidence); the boolean verdicts only when one failed, cool-down
      // waits only when one happened
      val calibJ =
        if (calibBase <= 0) ""
        else ts.map(t => f"${t.calib}%.2f").mkString(",\"calib\":[", ",", "]")
      val calibOkJ =
        if (ts.forall(_.calibOk)) ""
        else ts.map(_.calibOk).mkString(",\"calib_ok\":[", ",", "]")
      val coolJ =
        if (ts.forall(_.cool == 0.0)) ""
        else ts.map(t => f"${t.cool}%.0f").mkString(",\"cool\":[", ",", "]")
      "\"" + k + "\":{" +
        s""""reps":$repsJ,"load1":$loadJ,"runq":$runqJ""" + phasesJ + okJ + admJ +
        calibJ + calibOkJ + coolJ + "}"
    }.mkString("{", ",", "}")
    val host = {
      // every step degrades to a default instead of crashing the bench:
      // /proc may be absent, and a pid can exit between listFiles and the
      // comm read (r6 advice)
      val javas = try {
        Option(new java.io.File("/proc").listFiles()).map(_.count { d =>
          d.getName.forall(_.isDigit) && (try {
            val f = new java.io.File(d, "comm")
            f.exists() && {
              val src = scala.io.Source.fromFile(f)
              try src.mkString.trim == "java" finally src.close()
            }
          } catch { case _: Throwable => false })
        }).getOrElse(-1)
      } catch { case _: Throwable => -1 }
      s"""{"cpus":${Runtime.getRuntime.availableProcessors()},"java_procs":$javas}"""
    }
    val total = results.map(r => headlineOf(r._1, r._2)).filter(_ >= 0).sum
    // numeric sf (parsed from ".../sf0.1") so the JSON field is a number
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    // the stdout line is what the driver's tail capture parses — assemble
    // it under the hard length budget, dropping later (non-baseline) map
    // entries first; `covered` records how many of the measured queries the
    // line itself carries so a truncated map is visible, not silent
    // entries whose every valid rep failed the calibration gate: the
    // artifact names them itself (r16 verdict #1 — "the entry must carry
    // a visible contended flag in the parsed JSON"); empty on a quiet run
    val contJ = results.filter { case (_, ts) => contendedOf(ts) }
      .map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val head = s"""{"metric":"total","value":$total,"unit":"sec","sf":$sf,"contended":$contJ,"""
    val tail = s""","covered":"N/${qsParts.size}","queries_full":"BENCH_SELF.json"}"""
    val fixed = head.length + """"queries":{}""".length + tail.length + 8
    var used = 0
    val kept = qsParts.takeWhile { p =>
      val ok = fixed + used + p.length + 1 <= lineBudget
      if (ok) used += p.length + 1
      ok
    }
    println(head +
      kept.mkString("\"queries\":{", ",", "}") +
      tail.replace("N/", s"${kept.size}/"))
    // the full self-diagnosis JSON (per-rep times, loadavg, run-queue,
    // parallel-scan phase timings, host) goes to its own file so it survives
    // as a committable artifact without riding the parsed channel
    // a FILTERED run (local iteration) must not clobber the committable
    // full-sweep artifact with a few-query subset — divert it
    val selfPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SELF",
      if (only.isDefined) "BENCH_SELF.partial.json" else "BENCH_SELF.json")
    try {
      val w = new java.io.PrintWriter(selfPath, "UTF-8")
      try w.println(
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":$sf,"contended":$contJ,"calib_base":$calibBase,"host":$host,"diag":$diag}""")
      finally w.close()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] self-diag write to $selfPath failed: ${e.getMessage}")
    }
    spark.stop()
  }

  /** One timed repetition plus the evidence needed to adjudicate it.
    * `rows < 0` marks the rep INVALID (the query threw — including a blown
    * churn/latency budget): an invalid rep never supplies the headline
    * number. `adm` is the admission wait (s) spent letting an externally
    * busy host drain before the rep started; `calib` is the admission
    * calibration probe's final ratio vs its sweep-start base and
    * `calibOk` whether it cleared the 1.5x gate (r16 verdict #1) — a
    * calib-dirty rep may still run (bounded wait exhausted) but can only
    * supply the headline when NO clean rep exists, and then the entry is
    * flagged contended in the parsed artifact. `cool` is the post-rep
    * cool-down wait (churn entry only).
    */
  private case class Rep(
      sec: Double, rows: Long,
      loadPre: (Double, String), loadPost: (Double, String),
      phases: Seq[(String, Double)],
      adm: Double = 0.0,
      calib: Double = 1.0,
      calibOk: Boolean = true,
      cool: Double = 0.0) {
    def ok: Boolean = rows >= 0
    def clean: Boolean = ok && calibOk
  }

  /** Clean-rep headline: the min over VALID + CALIB-CLEAN reps; falls back
    * to the valid-rep min when no clean rep exists (the entry is then in
    * the `contended` list — self-reported pollution, r16 verdict #1); -1
    * when every rep failed (a parse-visible failure, not a fast-looking
    * masked one — r15 verdict #3).
    *
    * serving_mixed_churn reports the MEDIAN of its clean reps instead
    * (r18, measurement fix per r17 verdict #2/#4): the entry times a
    * 33-thread concurrent mutate+probe workload whose wall time is
    * scheduling-dominated and high-variance by nature — its min-of-reps
    * drifted 1.7x between same-plan sweeps, so the round-over-round diff
    * read pure scheduler luck. The per-rep times still ride the printed
    * line and BENCH_SELF diag, so the old min remains auditable.
    */
  private def headlineOf(name: String, ts: Seq[Rep]): Double = {
    def pick(xs: Seq[Double]): Double =
      if (name == "serving_mixed_churn") medianOf(xs.sorted) else xs.min
    val clean = ts.filter(_.clean)
    if (clean.nonEmpty) pick(clean.map(_.sec))
    else {
      val valid = ts.filter(_.ok)
      if (valid.nonEmpty) pick(valid.map(_.sec)) else -1.0
    }
  }

  /** An entry whose every valid rep was calib-dirty: its headline is
    * load-inflated and the artifact must say so itself.
    */
  private def contendedOf(ts: Seq[Rep]): Boolean =
    ts.exists(_.ok) && !ts.exists(_.clean)

  /** Rep admission (r15 verdict #2 + r16 verdict #1): an externally busy
    * host inflates a rep uniformly and the artifact reads as a
    * regression. Two gates before each rep, sharing one bounded wait
    * budget (every second waited lands in the diag `adm`):
    *  1. instantaneous run-queue drain (up to 20 s) — not load1: the
    *     sweep's own just-finished 32-thread query keeps load1 elevated
    *     for a minute while the run queue empties immediately, so load1
    *     would gate on our own echo;
    *  2. the calibration probe — the fixed reference computation re-timed
    *     until it runs within 1.5x of its sweep-start base (up to 30 s
    *     total). The runq can read empty while contending processes are
    *     between timeslices; the probe measures the CPU the rep will
    *     actually get. Returns (waited, finalRatio, ratio <= 1.5).
    */
  private def admitRep(): (Double, Double, Boolean) = {
    var waited = 0
    while (waited < 20 && runningProcs() > 6) {
      Thread.sleep(1000L)
      waited += 1
    }
    var ratio = if (calibBase > 0) calibOnce() / calibBase else 1.0
    while (waited < 30 && ratio > 1.5) {
      Thread.sleep(1000L)
      waited += 1
      ratio = if (calibBase > 0) calibOnce() / calibBase else 1.0
    }
    (waited.toDouble, ratio, ratio <= 1.5)
  }

  private def runningProcs(): Int =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(3).split("/")(0).toInt
      finally src.close()
    } catch { case _: Throwable => 0 }

  /** (1-min loadavg, "running/total" run-queue field) from /proc/loadavg.
    * The open itself is inside the try: a non-Linux host degrades to the
    * default instead of crashing the bench (r6 advice). */
  /** Conventional median: mean of the two middle values on even counts
    * (the old lower-median read biased the conc8 p50 low — ADVICE r13).
    */
  private def medianOf(sorted: Seq[Double]): Double =
    if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0

  private def loadAvg(): (Double, String) =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try {
        val f = src.mkString.trim.split("\\s+")
        (f(0).toDouble, f(3))
      } finally src.close()
    } catch { case _: Throwable => (-1.0, "?") }
}
