package graft

import graft.functions.expressions.{FloatVectorDot, GraftMinhashSig, GraftQuantize, GraftSimhashSig, GraftWinnow, GraftWordShingles, HyperplaneSignature, NfcNormalize, PolyHash}
import graft.operators.{Renko, RenkoModes}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions: exposes graft's custom Catalyst expressions and the
  * renko operator to SQL.
  *
  * Usage:
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   ...
  * spark.sql("SELECT graft_dot(a.embedding, b.embedding) FROM ...")
  * spark.sql("SELECT * FROM graft_renko('ticks', 0.0003, 'wicks')")
  * }}}
  *
  * Registered functions:
  *  - `graft_dot(array<float|double>, array<float|double>) -> double` —
  *    native codegen'd dot product (see [[graft.functions.expressions.FloatVectorDot]]).
  *  - `graft_polyhash(string) -> bigint` — the SQL-replicable polynomial
  *    hash the LSH operators build on (see [[graft.functions.expressions.PolyHash]]).
  *  - `graft_nfc(string) -> string` — Unicode NFC canonicalization (see
  *    [[graft.functions.expressions.NfcNormalize]]).
  *  - `graft_vec_microsum(array<float|double>) -> array<bigint>` — the
  *    native elementwise micro-quantized vector-sum AGGREGATE (see
  *    [[graft.functions.expressions.VectorMicroSum]]).
  *  - `graft_winnow(string [, k [, window]]) -> array<bigint>` — sorted
  *    distinct MOSS-winnowed fingerprints, one scan-local byte-walk per
  *    document (see [[graft.functions.expressions.GraftWinnow]]).
  *  - `graft_renko(table, brick_size [, mode [, symbol_col [, ts_unit]]])` —
  *    table-valued function over a tick table/view: the full renko scan
  *    with a mode projection, as a composable SQL relation (SURVEY §7.3's
  *    optional SQL surface). Argument literals only; `symbol_col = ''`
  *    means single series.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.graftDot)
    ext.injectFunction(GraftExtensions.graftPolyHash)
    ext.injectFunction(GraftExtensions.graftWinnow)
    ext.injectFunction(GraftExtensions.graftWordShingles)
    ext.injectFunction(GraftExtensions.graftHyperplaneSig)
    ext.injectFunction(GraftExtensions.graftMinhashSig)
    ext.injectFunction(GraftExtensions.graftSimhashSig)
    ext.injectFunction(GraftExtensions.graftQuantize)
    ext.injectFunction(GraftExtensions.graftHilbert2)
    ext.injectFunction(GraftExtensions.graftNfc)
    ext.injectFunction(GraftExtensions.graftVecMicroSum)
    ext.injectTableFunction(GraftExtensions.graftRenko)
    ext.injectTableFunction(GraftExtensions.graftBm25)
    ext.injectTableFunction(GraftExtensions.graftAnn)
    // the renko scan: the rule pushes symbol predicates through the scan
    // to the tick source, the strategy plans RenkoScanNode. Renko.fromTicks
    // installs both too, for sessions built without these extensions
    ext.injectOptimizerRule(_ => graft.plans.RenkoSymbolPushdown)
    ext.injectPlannerStrategy(_ => graft.plans.RenkoScanStrategy)
    // the serving TVFs plan through Bm25ScanNode/AnnScanNode: outer
    // metadata WHEREs become filtered probes
    ext.injectOptimizerRule(_ => graft.plans.ServingFilterPushdown)
    ext.injectPlannerStrategy(_ => new graft.plans.ServingScanStrategy)
  }
}

object GraftExtensions {
  private[graft] val graftDot: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[FloatVectorDot].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_dot expects exactly 2 arguments")
      FloatVectorDot(children.head, children(1))
    })

  private[graft] val graftPolyHash: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_polyhash"),
    new ExpressionInfo(classOf[PolyHash].getName, "graft_polyhash"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.length <= 3,
        "graft_polyhash expects (string [, mult [, prime]])")
      def longArg(i: Int, default: Long): Long =
        if (children.length > i) integralLit(children(i), i, "graft_polyhash") else default
      PolyHash(children.head, longArg(1, 31L), longArg(2, 2147483647L))
    })

  private[graft] val graftWinnow: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_winnow"),
    new ExpressionInfo(classOf[GraftWinnow].getName, "graft_winnow"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.length <= 3,
        "graft_winnow expects (string [, k [, window]])")
      GraftWinnow(children.head, intLit(children, 1, 8, "graft_winnow"),
        intLit(children, 2, 4, "graft_winnow"))
    })

  private[graft] val graftVecMicroSum: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_vec_microsum"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.VectorMicroSum].getName, "graft_vec_microsum"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_vec_microsum expects exactly 1 argument")
      graft.functions.expressions.VectorMicroSum(children.head)
    })

  private[graft] val graftNfc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_nfc"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_nfc expects exactly 1 argument")
      NfcNormalize(children.head)
    })

  private[graft] val graftWordShingles: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_word_shingles"),
    new ExpressionInfo(classOf[GraftWordShingles].getName, "graft_word_shingles"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.length <= 2,
        "graft_word_shingles expects (string [, n])")
      GraftWordShingles(children.head, intLit(children, 1, 3, "graft_word_shingles"))
    })

  /** An integral literal argument as Long — integral types only (a double
    * literal would silently truncate), with the value range left to the
    * caller.
    */
  private def integralLit(e: Expression, i: Int, fn: String): Long = e.eval() match {
    case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long) =>
      n.asInstanceOf[java.lang.Number].longValue()
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} must be an integer literal, got $other")
  }

  /** Like [[integralLit]] but bounds-checked into Int: a bigint literal
    * above Int.MaxValue (e.g. `graft_winnow(s, 5000000000)`) errors clearly
    * instead of truncating to a wrong small/negative value.
    */
  private def intLit(children: Seq[Expression], i: Int, default: Int, fn: String): Int =
    if (children.length > i) {
      val v = integralLit(children(i), i, fn)
      if (v < Int.MinValue || v > Int.MaxValue) throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} is out of Int range: $v")
      v.toInt
    } else default

  private[graft] val graftHyperplaneSig: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hyperplane_sig"),
    new ExpressionInfo(classOf[HyperplaneSignature].getName, "graft_hyperplane_sig"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.length <= 3,
        "graft_hyperplane_sig expects (vec [, planeBase [, numPlanes]])")
      HyperplaneSignature(children.head,
        intLit(children, 1, 0, "graft_hyperplane_sig"),
        intLit(children, 2, 6, "graft_hyperplane_sig"))
    })

  private[graft] val graftMinhashSig: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_minhash_sig"),
    new ExpressionInfo(classOf[GraftMinhashSig].getName, "graft_minhash_sig"),
    (children: Seq[Expression]) => {
      require(children.nonEmpty && children.length <= 2,
        "graft_minhash_sig expects (shingles [, numHashes])")
      GraftMinhashSig(children.head, intLit(children, 1, 64, "graft_minhash_sig"))
    })

  private[graft] val graftSimhashSig: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash_sig"),
    new ExpressionInfo(classOf[GraftSimhashSig].getName, "graft_simhash_sig"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_simhash_sig expects (shingles)")
      GraftSimhashSig(children.head)
    })

  private[graft] val graftQuantize: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_quantize"),
    new ExpressionInfo(classOf[GraftQuantize].getName, "graft_quantize"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "graft_quantize expects (vec)")
      GraftQuantize(children.head)
    })

  private[graft] val graftHilbert2: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hilbert2"),
    new ExpressionInfo(classOf[graft.functions.expressions.GraftHilbert2].getName, "graft_hilbert2"),
    (children: Seq[Expression]) => {
      require(children.length >= 2 && children.length <= 3,
        "graft_hilbert2 expects (qx, qy [, bits])")
      graft.functions.expressions.GraftHilbert2(
        children(0), children(1), intLit(children, 2, 16, "graft_hilbert2"))
    })

  private def stringLit(e: Expression, what: String): String = e.eval() match {
    case u: UTF8String => u.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** A TVF's tick/query relation argument: either a table/view NAME as a
    * string literal (`graft_renko('ticks', ...)`) or a SQL TABLE argument
    * (`graft_renko(TABLE(ticks), ...)`) — the latter arrives as a
    * subquery-plan expression, whose plan is used directly.
    */
  private def relationArg(e: Expression, what: String): LogicalPlan = e match {
    case t: org.apache.spark.sql.catalyst.expressions.FunctionTableSubqueryArgumentExpression =>
      t.plan
    case lit =>
      SparkSession.active.table(stringLit(lit, what)).queryExecution.logical
  }

  private[graft] val graftRenko: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_renko"),
    new ExpressionInfo(Renko.getClass.getName, "graft_renko"),
    (children: Seq[Expression]) => {
      require(children.length >= 2 && children.length <= 5,
        "graft_renko expects (table, brick_size [, mode [, symbol_col [, ts_unit]]])")
      val brick = children(1).eval() match {
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: java.lang.Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"graft_renko: brick_size must be a numeric literal, got $other")
      }
      val mode = if (children.length >= 3) stringLit(children(2), "mode") else "wicks"
      val symbolCol =
        if (children.length >= 4) Some(stringLit(children(3), "symbol_col")).filter(_.nonEmpty)
        else None
      val tsUnit = if (children.length >= 5) stringLit(children(4), "ts_unit") else "us"
      val ticks = org.apache.spark.sql.GraftSqlShim.ofRows(SparkSession.active, relationArg(children(0), "table"))
      // fromTicks' RenkoScanNode carries symbol predicates to the tick source
      RenkoModes.project(Renko.fromTicks(ticks, brick, symbolCol = symbolCol, tsUnit = tsUnit), mode)
        .queryExecution.logical
    })

  /** `graft_bm25(index_path, terms_csv [, k [, filter_sql]])` — BM25
    * top-k served from a persisted [[graft.operators.TextIndex]], as a
    * composable SQL relation: the serving twin of the `graft_renko` TVF.
    * Output: (doc_id, rank, bm25) plus every metadata column the build
    * persisted (write's `keepCols`).
    *
    * Filtered search, two spellings with identical semantics (serving
    * restricted at the pruned bucket scan, corpus statistics unmoved):
    * the `filter_sql` literal, or — via [[graft.plans.ServingFilterPushdown]]
    * — an outer `WHERE` on metadata columns, which becomes the probe's
    * serving predicate and returns k FILTERED results rather than a
    * post-rank remnant that under-fills k. Literal args only.
    */
  private[graft] val graftBm25: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_bm25"),
    new ExpressionInfo(graft.operators.TextIndex.getClass.getName, "graft_bm25"),
    (children: Seq[Expression]) => {
      require(children.length >= 2 && children.length <= 4,
        "graft_bm25 expects (index_path, terms_csv [, k [, filter_sql]])")
      val path = stringLit(children(0), "index_path")
      val terms = stringLit(children(1), "terms_csv").split(",").map(_.trim)
        .filter(_.nonEmpty).toIndexedSeq
      val k = intLit(children, 2, 20, "graft_bm25")
      val spark = SparkSession.active
      val metaFields = graft.operators.TextIndex.metaColFields(spark, path)
      val metaCols = metaFields.map(_.name)
      val filterSql = predicateSqlArg(children, 3, "graft_bm25")
      // plan through the ServingScan placeholder so outer metadata WHEREs
      // can push into the probe (ServingFilterPushdown + ServingScanStrategy).
      // The output schema is DECLARED from the index footer (no probe
      // build, no Spark job); the probe itself is a lazy thunk the
      // strategy forces only if the pushdown rule leaves the predicate
      // unchanged — one probe construction per query, never two.
      val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
        Seq(
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "doc_id", org.apache.spark.sql.types.LongType)(),
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "rank", org.apache.spark.sql.types.LongType, nullable = false)(),
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "bm25", org.apache.spark.sql.types.DoubleType)()) ++
        metaFields.map(f =>
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            f.name, f.dataType, f.nullable)())
      // memoizing probe factory: the planner invokes the strategy several
      // times per query — each distinct serving predicate builds its probe
      // exactly once, and pushdown copies of the node share the cache
      val probeCache =
        new java.util.concurrent.ConcurrentHashMap[String, LogicalPlan]()
      def probeFor(pred: Option[String]): LogicalPlan =
        probeCache.computeIfAbsent(pred.getOrElse(""), _ =>
          graft.operators.TextIndex.bm25TopK(spark, path, terms, k,
            predicate = parsedPredicate(spark, pred), metaCols = metaCols)
            .queryExecution.analyzed)
      graft.plans.Bm25ScanNode(path, terms, k, 1.2, 0.75,
        filterSql, metaCols, output, probeFor)
    })

  /** `graft_ann(index_path, queries_table [, k [, nprobe [, filter_sql]]])`
    * — IVF ANN top-k served from a persisted [[graft.operators.IvfIndex]]
    * over a query table/view carrying (vec_id, embedding). The probe
    * auto-dispatches on the index rung (float [[graft.operators.IvfIndex.probe]],
    * SQ8 [[graft.operators.IvfIndex.probeQuantized]], PQ
    * [[graft.operators.IvfIndex.probePq]] — detected from the list
    * schema), so one SQL surface serves the whole memory ladder. Output:
    * (query_id, rank, neighbor_id, cos_sim) plus the build's `keepCols`
    * metadata. Filtered vector search via the `filter_sql` literal or an
    * outer `WHERE` on metadata columns (pushed into the probe by
    * [[graft.plans.ServingFilterPushdown]] — k filtered neighbors, not a
    * post-rank remnant). Literal args only.
    */
  private[graft] val graftAnn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_ann"),
    new ExpressionInfo(graft.operators.IvfIndex.getClass.getName, "graft_ann"),
    (children: Seq[Expression]) => {
      require(children.length >= 2 && children.length <= 5,
        "graft_ann expects (index_path, queries_table [, k [, nprobe [, filter_sql]]])")
      val path = stringLit(children(0), "index_path")
      val k = intLit(children, 2, 5, "graft_ann")
      val nprobe = intLit(children, 3, 4, "graft_ann")
      val spark = SparkSession.active
      val queriesPlan = relationArg(children(1), "queries_table")
      val queries = org.apache.spark.sql.GraftSqlShim.ofRows(spark, queriesPlan)
      val metaFields = graft.operators.IvfIndex.metaColFields(spark, path)
      val metaCols = metaFields.map(_.name)
      val filterSql = predicateSqlArg(children, 4, "graft_ann")
      // auto-dispatch on the index rung: a float, SQ8, or PQ build all
      // serve through the same TVF (the list schema says which probe).
      // Output declared from the list footer; probe built lazily — the
      // strategy forces it only when no further predicate was pushed
      val kind = graft.operators.IvfIndex.kindOf(spark, path)
      val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
        Seq(
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "query_id", org.apache.spark.sql.types.LongType)(),
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "rank", org.apache.spark.sql.types.IntegerType, nullable = false)(),
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "neighbor_id", org.apache.spark.sql.types.LongType)(),
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "cos_sim", org.apache.spark.sql.types.DoubleType)()) ++
        metaFields.map(f =>
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            f.name, f.dataType, f.nullable)())
      val probeCache =
        new java.util.concurrent.ConcurrentHashMap[String, LogicalPlan]()
      def probeFor(pred: Option[String]): LogicalPlan =
        probeCache.computeIfAbsent(pred.getOrElse(""), _ =>
          graft.plans.ServingScan.annProbe(spark, path, queries, k,
            nprobe, kind, parsedPredicate(spark, pred), metaCols)
            .queryExecution.analyzed)
      graft.plans.AnnScanNode(path, k, nprobe,
        filterSql, metaCols, kind, output, probeFor,
        queries.queryExecution.analyzed)
    })

  /** An optional trailing metadata-filter argument: a literal SQL boolean
    * expression string (e.g. `'lang = ''en'''`), validated by a parse and
    * carried as text on the serving node (the probe resolves it against
    * its own relation at planning time); empty or absent means unfiltered.
    */
  private def predicateSqlArg(
      children: Seq[Expression], i: Int, fn: String): Option[String] =
    if (children.length <= i) None
    else {
      val sql = stringLit(children(i), s"$fn filter_sql").trim
      if (sql.isEmpty) None
      else {
        SparkSession.active.sessionState.sqlParser.parseExpression(sql)
        Some(sql)
      }
    }

  private def parsedPredicate(
      spark: SparkSession, sql: Option[String]): Option[org.apache.spark.sql.Column] =
    sql.map(s => org.apache.spark.sql.GraftSqlShim.column(
      spark.sessionState.sqlParser.parseExpression(s)))

  /** Register `graft_renko` on an already-built session — for callers that
    * did not (or cannot) set `spark.sql.extensions` at session construction
    * (e.g. the driver's Verify/Bench sessions).
    */
  def registerRenkoTvf(spark: SparkSession): Unit =
    org.apache.spark.sql.GraftSqlShim.registerTableFunction(
      spark, graftRenko._1, graftRenko._2, graftRenko._3)

  /** Register every graft table-valued function (`graft_renko`,
    * `graft_bm25`, `graft_ann`) on an already-built session, plus the
    * optimizer rule and planner strategy the serving TVFs plan through
    * (via `spark.experimental` — the runtime twin of the
    * injectOptimizerRule/injectPlannerStrategy extension path; the renko
    * scan's are installed by `Renko.fromTicks`, `RenkoScanStrategy.install`).
    */
  def registerTvfs(spark: SparkSession): Unit = {
    Seq(graftRenko, graftBm25, graftAnn).foreach { f =>
      org.apache.spark.sql.GraftSqlShim.registerTableFunction(spark, f._1, f._2, f._3)
    }
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(graft.plans.ServingFilterPushdown))
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.ServingFilterPushdown
    if (!exp.extraStrategies.exists(_.isInstanceOf[graft.plans.ServingScanStrategy]))
      exp.extraStrategies = exp.extraStrategies :+ new graft.plans.ServingScanStrategy
  }
}
