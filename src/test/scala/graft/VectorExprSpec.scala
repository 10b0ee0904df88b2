package graft

import graft.functions.VectorFunctions
import graft.functions.expressions.VectorExpressions
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Native codegen'd dot product: bit-identical to the higher-order-function
  * form (and therefore to the DuckDB oracle), interpreted and codegen paths.
  */
class VectorExprSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()

  test("graft_dot == zip_with/aggregate fold, bit-exact on all pairs of first 50") {
    val a = emb.filter(col("vec_id") < 50).select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.filter(col("vec_id") < 50).select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val both = a.join(b, col("ia") < col("ib"))
      .select(
        VectorExpressions.dotNative(col("va"), col("vb")).as("native"),
        VectorFunctions.dotHof(col("va"), col("vb")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0))
        == java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("type checking rejects non-numeric arrays") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val err = intercept[Exception] {
      docs.select(VectorExpressions.dotNative(split(col("text"), " "), split(col("text"), " "))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_dot") ||
      err.getMessage.contains("DATATYPE_MISMATCH") || err.getMessage.contains("array"))
  }

  test("double arrays and mixed float/double work") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val r = df.select(VectorExpressions.dotNative(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(r == 32.0)
  }

  test("graft_polyhash == split/transform/aggregate fold, both prime sets") {
    import graft.functions.TextFunctions
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val rows = docs.select(
        TextFunctions.polyHash(col("text")).as("n31"),
        TextFunctions.polyHashHof(col("text")).as("h31"),
        TextFunctions.polyHash(col("text"), mult = 131L, prime = 2147483629L).as("n131"),
        TextFunctions.polyHashHof(col("text"), mult = 131L, prime = 2147483629L).as("h131"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getLong(2) == r.getLong(3))
    }
  }

  test("graft_hyperplane_sig == zip_with/aggregate plane folds: corpus + null/empty edges") {
    import graft.functions.expressions.HyperplaneExpression
    import graft.operators.Similarity
    import spark.implicits._
    // every (planeBase, numPlanes) combination the ANN operators use
    for ((base, np) <- Seq((0, 6), (18, 6), (42, 6), (0, 16))) {
      val rows = emb.select(
          HyperplaneExpression.hyperplaneSigNative(col("embedding"), base, np).as("nat"),
          Similarity.planeSignatureHof(col("embedding"), base, np).as("hof"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"base=$base np=$np"))
    }
    // null element => every dot is null => signature 0; empty vector => 0
    val edge = Seq(
      (1L, Array[java.lang.Float](1.0f, null, 3.0f)),
      (2L, Array[java.lang.Float]())
    ).toDF("id", "embedding")
    val er = edge.select(col("id"),
        HyperplaneExpression.hyperplaneSigNative(col("embedding"), 0, 6).as("nat"),
        Similarity.planeSignatureHof(col("embedding"), 0, 6).as("hof"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    er.foreach { case (id, nat, hof) => assert(nat == hof && nat == 0L, s"id=$id") }
  }

  test("graft_minhash_sig / graft_simhash_sig == relational aggregation, corpus-wide") {
    import graft.operators.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val params = Dedup.MinHashParams()
    val nativeMh = Dedup.minhashSigs(docs, params, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val relMh = Dedup.minhashSigsRelational(
        docs.select(col("doc_id"),
          explode(graft.functions.expressions.ShingleExpression.wordShinglesNative(col("text"), 3)).as("s")),
        params).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(nativeMh.nonEmpty && nativeMh == relMh)
    val nativeSh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val relSh = Dedup.simhashRelational(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nativeSh.nonEmpty && nativeSh == relSh)
    // a doc with no shingles is absent from both paths
    import spark.implicits._
    val tiny = Seq((1L, "a b"), (2L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.simhash(tiny).collect().map(_.getLong(0)).toSet == Set(2L))
    assert(Dedup.minhashSigs(tiny, params, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("graft_word_shingles == wordShingles HOF form: corpus + whitespace edges, n=3 and n=8") {
    import graft.functions.TextFunctions
    import graft.functions.expressions.ShingleExpression
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select("text")
    // whitespace edge cases exercising split(trim(_), "\s+", -1) semantics:
    // leading/trailing tabs (empty tokens), interior runs, pure whitespace,
    // short docs, duplicate grams (distinct order)
    val edges = Seq("\ta b c d", "a b c\t", "  a b c  ", "a\t\tb\nc", "",
      " ", "\t", "a b", "x y x y x y x y", "a  b   c    d").toDF("text")
    for (df <- Seq(corpus, edges); n <- Seq(3, 8)) {
      val rows = df.select(
          ShingleExpression.wordShinglesNative(col("text"), n).as("nat"),
          TextFunctions.wordShingles(col("text"), n).as("hof"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n native=${r.getSeq[String](0)} hof=${r.getSeq[String](1)}")
      }
    }
  }

  test("graft_token_counts == explode(tokens)+groupBy posting rows: corpus + whitespace edges + null") {
    import graft.functions.TextFunctions.tokens
    import graft.functions.expressions.TokenCountsExpression.tokenCountsNative
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    val edges = (Seq("\ta b c d", "a b c\t", "  a b c  ", "a\t\tb\nc", "",
      " ", "\t", "a b", "x y x y x y x y", "a  b   c    d") :+ null)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (df <- Seq(corpus, edges)) {
      // the TextIndex.postingRows formulation this expression replaced
      val grouped = df
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"),
          explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSet
      val native = df
        .select(col("doc_id"), explode(tokenCountsNative(col("text"))).as("kv"))
        .select(col("doc_id"), col("kv.dl").as("dl"), col("kv.term").as("term"),
          col("kv.tf").as("tf"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(native.nonEmpty && native == grouped)
    }
    // the null doc is dropped by both paths (explode of a null array)
    val nullIds = edges.filter(col("text").isNull).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val natIds = edges
      .select(col("doc_id"), explode(tokenCountsNative(col("text"))).as("kv"))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(nullIds.nonEmpty && natIds.intersect(nullIds).isEmpty)
  }

  test("graft_nearest_centroid == unrolled struct-argmax: nlist 16 & 64 + degenerate rows") {
    import graft.operators.Similarity
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    // degenerate inputs exercising the null-branch contract: a null element
    // (nulls the dot AND the norm), an empty vector (length mismatch), a
    // zero vector (try_divide by zero norm), a NULL vector — in the
    // unrolled form each nulls every branch score, so the struct-argmax
    // falls through to the lowest cid; the native expression must match
    val edges = Seq(
      (9001L, Array[java.lang.Float](1.0f, null) ++ Array.fill[java.lang.Float](62)(0.5f)),
      (9002L, Array[java.lang.Float]()),
      (9003L, Array.fill[java.lang.Float](64)(0.0f)),
      (9004L, null.asInstanceOf[Array[java.lang.Float]])
    ).toDF("vec_id", "embedding")
    for (nlist <- Seq(16, 64)) {
      val cents = Similarity.collectCentroids(base, nlist, "vec_id", "embedding")
      val minCid = cents.map(_._1).min
      val rows = base.unionByName(edges)
        .select(col("vec_id"), col("embedding").as("v"),
          VectorFunctions.l2Norm(col("embedding")).as("nrm"))
        .select(col("vec_id"),
          Similarity.centroidAssignExpr(cents).as("nat"),
          Similarity.centroidAssignExprUnrolled(cents).as("unr"))
        .collect()
      assert(rows.length > 64)
      rows.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"nlist=$nlist vec=${r.getLong(0)}: native ${r.getLong(1)} vs unrolled ${r.getLong(2)}"))
      val byId = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      Seq(9001L, 9002L, 9003L, 9004L).foreach(id =>
        assert(byId(id) == minCid, s"nlist=$nlist degenerate vec $id"))
    }
  }

  test("graft_nearest_centroids == the top-n row_number window it replaced, codegen and interpreted") {
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    // eight corpus centroids plus exact copies of two of them under higher
    // cids: every query sees tied scores, which must break by cid ASC
    val eight = Similarity.collectCentroids(base, 8, "vec_id", "embedding")
    val cents = (eight ++ Seq(eight(2), eight(5)).zipWithIndex.map { case (c, i) =>
      (100L + i, c._2, c._3)
    }).sortBy(_._1)
    val nlist = cents.length
    val edges = Seq(
      Row(9001L, Array.fill[Float](64)(0.0f).toSeq), // zero norm: every score null
      Row(9002L, (Float.NaN +: Array.fill[Float](63)(0.5f)).toSeq), // NaN scores
      Row(9003L, null), // null vector
      Row(9004L, eight(5)._2.map(_.toFloat).toSeq)) // a centroid itself
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // an RDD relation, so the optimizer cannot fold the projection away
    // and the expression really runs under the configured eval mode
    val queries = base.filter(col("vec_id") < 40)
      .unionByName(spark.createDataFrame(spark.sparkContext.parallelize(edges), schema))
    val cframe = cents.toSeq.toDF("cid", "cv", "cnrm")
    def windowForm(n: Int): Map[Long, Seq[Long]] = {
      val qn = queries.select(col("vec_id").as("id"), col("embedding").as("v"),
        VectorFunctions.l2Norm(col("embedding")).as("nrm"))
      qn.crossJoin(cframe)
        .select(col("id"), col("cid"),
          VectorFunctions.cosine(col("v"), col("cv"), col("nrm"), col("cnrm")).as("csim"))
        .withColumn("crank", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("csim").desc, col("cid").asc)))
        .filter(col("crank") <= n)
        .collect().groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    }
    def exprForm(n: Int): Map[Long, Seq[Long]] =
      Similarity.ivfProbeSide(queries, cents, n, "vec_id", "embedding")
        .select(col("query_id"), col("cids")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def withConf(kv: (String, String)*)(body: => Unit): Unit = {
      val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val modes = Seq(
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (n <- Seq(1, 3, nlist, nlist + 3); (mode, conf) <- modes) withConf(conf: _*) {
      val want = windowForm(n)
      val got = exprForm(n)
      assert(got.keySet == want.keySet && got.size == 44, s"$mode n=$n: query ids differ")
      got.foreach { case (id, cids) =>
        assert(cids == want(id), s"$mode n=$n query $id: expression $cids vs window ${want(id)}")
        assert(cids.size == math.min(n, nlist))
      }
      // the degenerate rows: nulls rank last, so an all-null row takes the
      // lowest cids; a NaN score ranks first; an exact centroid copy ties
      // with its twin and the lower cid wins
      assert(got(9001L) == cents.map(_._1).take(n).toSeq, s"$mode n=$n zero norm")
      assert(got(9003L) == cents.map(_._1).take(n).toSeq, s"$mode n=$n null vector")
      assert(got(9004L).head == eight(5)._1, s"$mode n=$n centroid copy")
      if (n > 1) assert(got(9004L)(1) == 101L, s"$mode n=$n tie order")
    }
  }

  test("graft_pq_encode == unrolled struct-min twin: corpus-wide bit equality") {
    import graft.operators.IvfIndex
    val codebook = IvfIndex.pqCodebook(emb, numSubspaces = 8, ksub = 16,
      idCol = "vec_id", vecCol = "embedding")
    val rows = emb.select(col("vec_id"),
        graft.functions.expressions.PqEncodeExpression
          .pqEncodeNative(col("embedding"), codebook).as("nat"),
        IvfIndex.pqEncodeUnrolled(col("embedding"), codebook).as("unr"))
      .collect()
    assert(rows.length >= 500)
    rows.foreach { r =>
      val nat = r.getSeq[Byte](1)
      val unr = r.getSeq[Byte](2)
      assert(nat == unr, s"vec ${r.getLong(0)}: native $nat vs unrolled $unr")
      assert(nat.length == 8)
    }
  }

  test("graft_quantize == HOF quantize: corpus-wide bit equality incl. zero vector") {
    import graft.operators.Similarity
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .unionByName(Seq((9999L, Array.fill(64)(0.0f), 0))
        .toDF("vec_id", "embedding", "label"))
    def dump(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Byte](2)))).toMap
    val native = dump(Similarity.quantize(emb))
    val hof = dump(Similarity.quantizeHof(emb))
    assert(native.size == hof.size && native.nonEmpty)
    native.foreach { case (id, (s, q)) =>
      val (hs, hq) = hof(id)
      assert(java.lang.Double.doubleToRawLongBits(s) == java.lang.Double.doubleToRawLongBits(hs),
        s"vec $id scale: native $s vs hof $hs")
      assert(q == hq, s"vec $id qvec differs")
    }
    // zero vector: scale 1.0, all-zero bytes, no divide-by-zero
    assert(native(9999L)._1 == 1.0 && native(9999L)._2.forall(_ == 0))
  }
}
