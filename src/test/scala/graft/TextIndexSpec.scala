package graft

import graft.operators.{IvfIndex, Search, TextIndex}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Persisted inverted text index: bit-transparency against the in-plan BM25
  * scan, partition pruning of the postings scan to the query terms' buckets,
  * and the fully index-served hybrid fusion.
  */
class TextIndexSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val terms = Seq("dup", "vector", "join", "slow")

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(allNodes)
  }

  private def postingsScan(p: SparkPlan): Option[FileSourceScanExec] =
    allNodes(p).collectFirst {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => s
    }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("rank")).collect().toSeq

  test("indexed probe == in-plan bm25TopK bit-exact; postings scan is bucket-pruned; rebuild idempotent") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-text-index").toString
    TextIndex.write(docs, path, nBuckets = 64)
    val probe = TextIndex.bm25TopK(spark, path, terms, k = 20)
    val direct = Search.bm25TopK(docs, terms, k = 20)
    assert(rows(probe) == rows(direct),
      "indexed probe must be bit-identical to the in-plan bm25TopK")

    // the layout really is one directory per populated term bucket
    val dirs = new java.io.File(s"$path/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).map(_.getName).toSet
    assert(dirs.size > 4, s"expected many bucket dirs, got ${dirs.size}")

    // bucket pruning happens on the driver, BEFORE the relation exists:
    // the scan's roots are exactly the probed buckets' directories — at
    // most |terms| of the populated dirs, never the tree root
    probe.collect()
    val scan = postingsScan(probe.queryExecution.executedPlan)
      .getOrElse(fail(s"no postings scan in:\n${probe.queryExecution.executedPlan}"))
    val roots = scan.relation.location.rootPaths.map(_.toString)
    assert(roots.nonEmpty && roots.forall(_.matches(".*postings/bucket=\\d+$")),
      s"probe scan roots must be pruned bucket directories, got:\n${roots.mkString("\n")}")
    val selected = roots.map(_.replaceAll(".*/bucket=", "bucket=")).distinct.size
    assert(selected <= terms.size && selected < dirs.size,
      s"probe must read <= ${terms.size} buckets, got $selected of ${dirs.size}")

    // rebuild over the same corpus overwrites in place; probes unchanged
    TextIndex.write(docs, path, nBuckets = 64)
    assert(rows(TextIndex.bm25TopK(spark, path, terms, k = 20)) == rows(direct))
  }

  test("filtered probe: serving restricted, statistics unmoved, metadata survives append") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-text-flt").toString
    // half built, half appended: the epoch must carry the metadata too
    TextIndex.write(docs.filter(col("doc_id") % 2 === 0), path, keepCols = Seq("lang"))
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1), path)

    val en = docs.filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(en.nonEmpty && en.size < docs.count(), "fixture must have a proper en subset")

    val filtered = TextIndex.bm25TopK(spark, path, terms, k = 20,
      predicate = Some(col("lang") === "en")).collect()
    assert(filtered.nonEmpty, "filtered probe must return docs")
    assert(filtered.forall(r => en(r.getLong(0))),
      "every served doc must satisfy the predicate")

    // view-not-removal: a served doc's score equals its score in the
    // UNFILTERED ranking (stats never moved), and the filtered ranking is
    // exactly the unfiltered one with non-matching docs skipped
    val openAll = TextIndex.bm25TopK(spark, path, terms, k = 10000).collect()
    val openScores = openAll.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    filtered.foreach { r =>
      assert(openScores(r.getLong(0)) == r.getDouble(2),
        s"doc ${r.getLong(0)}: filtered score must equal the unfiltered score")
    }
    val expectOrder = openAll.filter(r => en(r.getLong(0))).take(20).map(_.getLong(0)).toSeq
    assert(filtered.sortBy(_.getLong(1)).map(_.getLong(0)).toSeq == expectOrder,
      "filtered ranking must be the unfiltered ranking restricted to matching docs")
  }

  test("single-bucket degenerate index still answers exactly; filesPerBucket spreads a hot bucket") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val direct = Search.bm25TopK(docs, terms, k = 20)
    val one = java.nio.file.Files.createTempDirectory("graft-text-index-1b").toString
    TextIndex.write(docs, one, nBuckets = 1)
    assert(rows(TextIndex.bm25TopK(spark, one, terms, k = 20)) == rows(direct))

    val spread = java.nio.file.Files.createTempDirectory("graft-text-index-fb").toString
    TextIndex.write(docs, spread, nBuckets = 8, filesPerBucket = 3)
    assert(rows(TextIndex.bm25TopK(spark, spread, terms, k = 20)) == rows(direct))
    val files = new java.io.File(s"$spread/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(files.exists(_ > 1),
      s"filesPerBucket=3 should write multiple files for at least one bucket, got $files")
  }

  test("append epochs: probe == full-rebuild bit-exact; uncommitted epoch invisible; pruning spans trees") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-text-index-app").toString
    TextIndex.write(docs.filter(col("doc_id") % 2 === 0), path, nBuckets = 32)
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1), path)
    val probe = TextIndex.bm25TopK(spark, path, terms, k = 20)
    val direct = Search.bm25TopK(docs, terms, k = 20)
    assert(rows(probe) == rows(direct),
      "appended index must answer bit-identically to a full rebuild")

    // pruning holds across base + epoch trees: ONE scan whose roots are
    // the probed buckets' directories of BOTH trees (driver-side pruning
    // packs the trees into a single relation — per-tree scans would pay a
    // listing per epoch)
    probe.collect()
    val scans = allNodes(probe.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => s
    }
    // one packed RELATION (bm25Score consumes the candidate rows twice, so
    // the same pruned-dir scan may appear at two plan positions)
    assert(scans.nonEmpty &&
      scans.map(_.relation.location.rootPaths.map(_.toString).toSet).distinct.size == 1,
      s"expected one packed postings relation, got ${scans.size} distinct")
    val roots = scans.head.relation.location.rootPaths.map(_.toString)
    assert(roots.forall(_.matches(".*postings/bucket=\\d+$")),
      s"scan roots must be pruned bucket dirs:\n${roots.mkString("\n")}")
    assert(roots.exists(!_.contains("/epochs/")) && roots.exists(_.contains("/epochs/")),
      s"scan roots must span base AND epoch trees:\n${roots.mkString("\n")}")

    // crash contract: an epoch without its meta _SUCCESS is uncommitted —
    // append a double-serving batch, then delete its meta (simulating a
    // crash before the commit write): the probe must not change
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1), path,
      epochId = Some("zz-crashed"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/epochs/zz-crashed/meta"), true)
    assert(rows(TextIndex.bm25TopK(spark, path, terms, k = 20)) == rows(direct),
      "an uncommitted epoch must be invisible to probes")
  }

  test("delete tombstones: masked at probe with exact stats, applied + retired by compact, resurrect after") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-text-index-del").toString
    TextIndex.write(docs, path, nBuckets = 16)
    val slice = docs.filter(col("doc_id") % 7 === 3)
    TextIndex.delete(slice, path)
    val want = rows(Search.bm25TopK(docs.filter(col("doc_id") % 7 =!= 3), terms, k = 20))
    val probe = TextIndex.bm25TopK(spark, path, terms, k = 20)
    assert(rows(probe) == want,
      "deleted docs must leave serving with df/n_docs/avgdl shrunk exactly")
    // double-delete is identity (a doc tombstoned twice counts once)
    TextIndex.delete(slice, path)
    assert(rows(TextIndex.bm25TopK(spark, path, terms, k = 20)) == want)

    // compaction applies the deletes physically and retires the tombstones
    TextIndex.compact(spark, path)
    assert(!new java.io.File(s"$path/tombstones").exists ||
      new java.io.File(s"$path/tombstones").listFiles().isEmpty,
      "compaction must retire applied tombstones")
    assert(rows(TextIndex.bm25TopK(spark, path, terms, k = 20)) == want,
      "post-compaction probe unchanged")
    val deletedIds = slice.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val compactRows = {
      val e = new java.io.File(s"$path/epochs").listFiles().head.getName
      spark.read.parquet(s"$path/epochs/$e/postings")
        .filter(col("doc_id").isin(deletedIds.toSeq: _*)).count()
    }
    assert(compactRows == 0, "deleted rows must physically leave disk at compaction")

    // a fresh append after retirement serves the ids again
    TextIndex.append(slice, path)
    assert(rows(TextIndex.bm25TopK(spark, path, terms, k = 20)) ==
      rows(Search.bm25TopK(docs, terms, k = 20)),
      "re-appended docs must serve after the tombstones retired")
  }

  test("compact: manifest-committed tree serves alone, probes unchanged, sweep reclaims the dead trees") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-text-index-cpt").toString
    TextIndex.write(docs.filter(col("doc_id") % 2 === 0), path, nBuckets = 16)
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1), path)
    val want = rows(TextIndex.bm25TopK(spark, path, terms, k = 20))

    // crash-mid-sweep state: the manifest is committed, replaced trees are
    // still on disk — they must already be invisible
    TextIndex.compact(spark, path, filesPerBucket = 1, sweep = false, keepLatest = 0,
      sweepGraceMs = 0L)
    assert(new java.io.File(s"$path/postings").exists, "pre-sweep: base tree still on disk")
    assert(rows(TextIndex.bm25TopK(spark, path, terms, k = 20)) == want,
      "probe must be bit-identical served from the compact tree alone")

    // the sweeping overload: one live tree -> no new epoch, dead trees gone
    TextIndex.compact(spark, path)
    assert(!new java.io.File(s"$path/postings").exists, "sweep must reclaim the base tree")
    val epochs = new java.io.File(s"$path/epochs").listFiles().map(_.getName).toSeq
    assert(epochs.size == 1 && epochs.head.startsWith("compact-"),
      s"exactly the compact epoch should remain, got $epochs")
    assert(rows(TextIndex.bm25TopK(spark, path, terms, k = 20)) == want)

    // growth continues after compaction: a fresh append still serves
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1)
      .withColumn("doc_id", col("doc_id") + 1000000L), path)
    val grown = TextIndex.bm25TopK(spark, path, terms, k = 20).collect()
    assert(grown.nonEmpty, "post-compaction append must serve")
  }

  test("probe planning jobs are flat in epoch count; 10-epoch layout answers bit-identically") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // two-tree index (base + 1 epoch + tombstones)
    val small = java.nio.file.Files.createTempDirectory("graft-text-ep2").toString
    TextIndex.write(docs.filter(col("doc_id") % 2 === 0), small, nBuckets = 16)
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1), small)
    TextIndex.delete(docs.filter(col("doc_id") % 7 === 3), small)
    // eleven-tree index (base + 10 epochs + tombstones), same corpus
    val big = java.nio.file.Files.createTempDirectory("graft-text-ep11").toString
    TextIndex.write(docs.filter(col("doc_id") % 11 === 0), big, nBuckets = 16)
    for (i <- 1 to 10) TextIndex.append(docs.filter(col("doc_id") % 11 === i), big)
    TextIndex.delete(docs.filter(col("doc_id") % 7 === 3), big)

    // epoch layout is invisible to the answer
    var smallDf: org.apache.spark.sql.DataFrame = null
    var bigDf: org.apache.spark.sql.DataFrame = null
    // job counts over probe PLANNING (DataFrame construction): the merged
    // meta read and the tombstone stats are one multi-root job each, so
    // the count must not grow with the live tree count
    val jSmall = countJobs { smallDf = TextIndex.bm25TopK(spark, small, terms, k = 20) }
    val jBig = countJobs { bigDf = TextIndex.bm25TopK(spark, big, terms, k = 20) }
    assert(rows(bigDf) == rows(smallDf),
      "10-epoch layout must answer bit-identically to the 2-tree layout")
    assert(jBig == jSmall,
      s"probe planning jobs must not scale with epochs: 2-tree=$jSmall, 11-tree=$jBig")
  }

  test("cold probe job budget: <= 6 jobs after an append, <= 7 with live deletes") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-text-jobs").toString
    TextIndex.write(docs.filter(col("doc_id") % 10 =!= 3), path, nBuckets = 16)
    // every probe below is cold: each commit re-signatures the index root
    TextIndex.append(docs.filter(col("doc_id") % 10 === 3), path)
    var got: Seq[org.apache.spark.sql.Row] = null
    val jAppend = countJobs { got = rows(TextIndex.bm25TopK(spark, path, terms, k = 20)) }
    assert(jAppend <= 6, s"a cold probe after an append must run <= 6 Spark jobs, ran $jAppend")
    assert(got == rows(Search.bm25TopK(docs, terms, k = 20)))
    TextIndex.delete(docs.filter(col("doc_id") % 10 === 5), path)
    val jDelete = countJobs { got = rows(TextIndex.bm25TopK(spark, path, terms, k = 20)) }
    assert(jDelete <= 7, s"a cold probe with live deletes must run <= 7 Spark jobs, ran $jDelete")
    assert(got == rows(Search.bm25TopK(docs.filter(col("doc_id") % 10 =!= 5), terms, k = 20)),
      "the tombstoned index must answer as the live corpus")
  }

  test("append auto-compaction bounds live trees; probes bit-identical to uncompacted") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val auto = java.nio.file.Files.createTempDirectory("graft-text-aac").toString
    val plain = java.nio.file.Files.createTempDirectory("graft-text-aacp").toString
    TextIndex.write(docs.filter(col("doc_id") % 9 === 0), auto, nBuckets = 16)
    TextIndex.write(docs.filter(col("doc_id") % 9 === 0), plain, nBuckets = 16)
    for (i <- 1 to 8) {
      TextIndex.append(docs.filter(col("doc_id") % 9 === i), auto, maxLiveTrees = 3)
      TextIndex.append(docs.filter(col("doc_id") % 9 === i), plain)
    }
    // the live-tree count is bounded by the dial (compact tree + newest
    // epoch + at most the threshold's worth of un-folded appends) ...
    val live = TextIndex.describe(spark, auto).collect().map(_.getString(0))
    assert(live.count(_ == "epoch") <= 3,
      s"auto-compaction must bound live epochs, got ${live.mkString(",")}")
    // ... while the uncompacted twin accreted one tree per append
    val livePlain = TextIndex.describe(spark, plain).collect().map(_.getString(0))
    assert(livePlain.count(_ == "epoch") == 8,
      s"twin must stay uncompacted: ${livePlain.mkString(",")}")
    // content identical
    assert(rows(TextIndex.bm25TopK(spark, auto, terms, k = 20)) ==
      rows(TextIndex.bm25TopK(spark, plain, terms, k = 20)),
      "auto-compacted index must answer bit-identically to the uncompacted twin")
    // probe plan stays flat: the compacted layout's postings scan reads a
    // bounded file set vs the 9-tree twin
    val dfAuto = TextIndex.bm25TopK(spark, auto, terms, k = 20)
    val dfPlain = TextIndex.bm25TopK(spark, plain, terms, k = 20)
    dfAuto.collect(); dfPlain.collect()
    val fAuto = postingsScan(dfAuto.queryExecution.executedPlan).map(_.relation.location.inputFiles.length)
    val fPlain = postingsScan(dfPlain.queryExecution.executedPlan).map(_.relation.location.inputFiles.length)
    assert(fAuto.exists(a => fPlain.exists(p => a < p)),
      s"compacted probe must read fewer postings files: auto=$fAuto plain=$fPlain")
  }

  test("describe reports the serving state exactly; compaction collapses it") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-text-desc").toString
    TextIndex.write(docs.filter(col("doc_id") % 2 === 0), path, nBuckets = 16)
    TextIndex.append(docs.filter(col("doc_id") % 2 === 1), path)
    TextIndex.delete(docs.filter(col("doc_id") % 7 === 3), path)
    val d1 = TextIndex.describe(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(d1.map(_._1).toSeq == Seq("base", "epoch", "tombstones"), d1.mkString(", "))
    val nEven = docs.filter(col("doc_id") % 2 === 0).count()
    val nOdd = docs.filter(col("doc_id") % 2 === 1).count()
    val nDel = docs.filter(col("doc_id") % 7 === 3).count()
    assert(d1(0)._3 == nEven && d1(1)._3 == nOdd && d1(2)._3 == nDel,
      s"describe doc counts must be exact: $nEven/$nOdd/$nDel vs ${d1.mkString(", ")}")
    TextIndex.compact(spark, path, 1)
    val d2 = TextIndex.describe(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(d2.length == 1 && d2(0)._1 == "compact" && d2(0)._3 == nEven + nOdd - nDel,
      s"post-compaction describe must be one tree, survivors only: ${d2.mkString(", ")}")
  }

  test("fully index-served hybrid fusion == indexed-hybrid fusion at the same nprobe") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val lexPath = java.nio.file.Files.createTempDirectory("graft-srv-lex").toString
    val ivfPath = java.nio.file.Files.createTempDirectory("graft-srv-ivf").toString
    TextIndex.write(docs, lexPath)
    IvfIndex.write(emb, ivfPath, nlist = 16)
    val served = Search.hybridRrfTopKServed(
      spark, lexPath, ivfPath, emb.filter(col("vec_id") === 0L), terms, nprobe = 4)
    val indexed = Search.hybridRrfTopKIndexed(
      docs, emb.filter(col("vec_id") === 0L), ivfPath, terms, nprobe = 4)
    assert(rows(served) == rows(indexed),
      "served fusion must equal the indexed-hybrid fusion bit-exactly")
    // both persisted arms stay partition-pruned: the postings scans read
    // only driver-pruned bucket directories, the lists scans keep their
    // cid partition filter
    served.collect()
    val nodes = allNodes(served.queryExecution.executedPlan)
    val postings = nodes.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => s
    }
    assert(postings.nonEmpty && postings.forall(
        _.relation.location.rootPaths.forall(_.toString.matches(".*postings/bucket=\\d+$"))),
      "postings scans must read only pruned bucket directories")
    val lists = nodes.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("lists")) => s
    }
    assert(lists.nonEmpty && lists.forall(
        _.relation.location.rootPaths.forall(_.toString.matches(".*lists/cid=\\d+$"))),
      "lists scans must read only driver-pruned cid directories")
  }

  test("keepCols colliding with reserved posting columns fail fast, case-insensitively") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft-lex-clash").toString
    val e = intercept[IllegalArgumentException] {
      TextIndex.write(docs, path, keepCols = Seq("term"))
    }
    assert(e.getMessage.contains("collide with reserved posting columns"),
      s"unexpected message: ${e.getMessage}")
    // Spark resolves columns case-insensitively by default: "Term" too
    val e2 = intercept[IllegalArgumentException] {
      TextIndex.write(docs, path, keepCols = Seq("Term"))
    }
    assert(e2.getMessage.contains("Term"),
      s"mixed-case clash must name the offending column: ${e2.getMessage}")
  }
}
