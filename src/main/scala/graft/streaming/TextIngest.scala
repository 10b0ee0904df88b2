package graft.streaming

import graft.operators.TextIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest for the persisted inverted text index: document
  * micro-batches accrete as committed posting epochs under the frozen
  * bucket count — the lexical twin of [[IvfIngest]], turning the
  * write-once index into a continuously-growing serving index with no
  * rebuild and no serving outage. Because df/n_docs/avgdl are additive,
  * the streamed index answers bit-identically to a full rebuild over
  * everything ingested so far (the `text_bm25_streamed` oracle query).
  *
  * Exactly-once contract, same as the vector side: `TextIndex.append`
  * alone is at-least-once under foreachBatch replay, so the stream keys
  * each epoch DETERMINISTICALLY by micro-batch id — a replayed batch
  * uncommits (deletes the epoch meta) and overwrites its own epoch, so
  * probes never see a partial or doubled batch. The first batch
  * bootstraps via [[TextIndex.write]] (full overwrite, replay-idempotent).
  *
  * Id uniqueness across batches stays the CALLER's contract — front the
  * stream with [[DedupStream]] or the admission store; this layer makes
  * REPLAYS safe, not upstream re-offers of the same doc under a new batch.
  */
object TextIngest {

  /** One ingest decision in pure batch form: bootstrap on an index with no
    * live trees, else append under the deterministic epoch for `batchId`.
    * A fold over ordered batches replays the stream exactly.
    *
    * Bootstrap replay safety (the `_bootstrap_batch` marker, liveness by
    * commit marker): [[graft.util.IndexTrees.ingest]].
    *
    * `maxLiveTrees > 0` is the auto-compaction dial: after an append that
    * leaves more than that many live trees, the index is compacted with
    * `keepLatest = 1` — the current batch's epoch stays un-merged until its
    * checkpoint commits, so a replay rewrites only its own epoch. Probe
    * planning cost is thereby bounded for the life of the stream with no
    * manual maintenance.
    */
  def ingestBatch(
      batch: DataFrame,
      indexPath: String,
      batchId: Long,
      nBuckets: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text",
      filesPerBucket: Int = 1,
      maxLiveTrees: Int = 16,
      keepCols: Seq[String] = Nil,
      sweepGraceMs: Long = 0L): Unit = {
    // keepCols matter only at BOOTSTRAP: appended epochs infer and carry
    // the base's metadata columns; the append's own auto-compaction dial
    // implements the live-tree bound
    TextIndex.trees(indexPath).ingest(batch.sparkSession, batchId) {
      TextIndex.write(batch, indexPath, nBuckets, idCol, textCol, filesPerBucket, keepCols)
    } { epoch =>
      TextIndex.append(batch, indexPath, idCol, textCol, filesPerBucket,
        epochId = Some(epoch), maxLiveTrees = maxLiveTrees, sweepGraceMs = sweepGraceMs)
    }
  }

  /** Start the ingest stream: `stream` must carry (`idCol`, `textCol`).
    * The index under `indexPath` grows one committed epoch per non-empty
    * micro-batch; probe it any time with [[TextIndex.bm25TopK]].
    * `maxLiveTrees` bounds probe planning cost via auto-compaction (see
    * [[ingestBatch]]); 0 disables it.
    */
  def start(
      stream: DataFrame,
      indexPath: String,
      checkpointDir: String,
      nBuckets: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text",
      filesPerBucket: Int = 1,
      trigger: Trigger = Trigger.AvailableNow(),
      maxLiveTrees: Int = 16,
      keepCols: Seq[String] = Nil): StreamingQuery =
    stream.writeStream
      .queryName("graft-text-ingest")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          ingestBatch(batch, indexPath, batchId, nBuckets, idCol, textCol,
            filesPerBucket, maxLiveTrees, keepCols)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
