package graft.streaming

import graft.operators.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest for the persisted IVF index: embedding micro-batches
  * accrete as committed epochs under the frozen coarse quantizer — the
  * vector-side twin of the curation/admission front doors, turning the
  * write-once index into a continuously-growing serving index with no
  * rebuild and no serving outage.
  *
  * Exactly-once contract: `IvfIndex.append` alone is at-least-once under
  * foreachBatch replay (a retried batch would write a second uuid-named
  * epoch and double-serve its vectors), so the stream keys each epoch
  * DETERMINISTICALLY by micro-batch id. A replayed batch then overwrites
  * its own epoch — the overwrite drops the `_SUCCESS` marker first, so
  * probes never see a partial epoch — and the net effect is exactly-once.
  * The first batch bootstraps the index via [[IvfIndex.write]] (idempotent
  * under replay for the same reason: same deterministic content, full
  * overwrite).
  *
  * Id uniqueness across batches stays the CALLER's contract (same as
  * [[IvfIndex.append]] — front the stream with the admission store or an
  * upstream watermark); this layer only makes REPLAYS safe, not upstream
  * re-offers of the same id under a new batch.
  */
object IvfIngest {

  /** One ingest decision in pure batch form: bootstrap on an index with no
    * live trees, else append under the deterministic epoch for `batchId`.
    * A fold over ordered batches replays the stream exactly (the
    * `sim_topk_ivf_streamed` oracle query).
    *
    * Bootstrap replay safety (the `_bootstrap_batch` marker, liveness by
    * commit marker): [[graft.util.IndexTrees.ingest]].
    *
    * `maxLiveTrees > 0` auto-compacts with `keepLatest = 1` once an append
    * leaves more live trees than the bound — the current batch's epoch
    * stays un-merged until its checkpoint commits, so a replay rewrites
    * only its own epoch. Probe planning stays flat for the stream's life.
    */
  def ingestBatch(
      batch: DataFrame,
      indexPath: String,
      batchId: Long,
      nlist: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      filesPerList: Int = 1,
      maxLiveTrees: Int = 16,
      keepCols: Seq[String] = Nil,
      sweepGraceMs: Long = 0L): Unit = {
    // keepCols matter only at BOOTSTRAP: appended epochs infer and carry
    // the base's metadata columns; the append's own auto-compaction dial
    // implements the live-tree bound
    IvfIndex.trees(indexPath).ingest(batch.sparkSession, batchId) {
      IvfIndex.write(batch, indexPath, nlist, idCol, vecCol, filesPerList,
        keepCols = keepCols)
    } { epoch =>
      IvfIndex.append(batch, indexPath, idCol, vecCol, filesPerList,
        epochId = Some(epoch), maxLiveTrees = maxLiveTrees, sweepGraceMs = sweepGraceMs)
    }
  }

  /** Start the ingest stream: `stream` must carry (`idCol`, `vecCol`).
    * The index under `indexPath` grows one committed epoch per non-empty
    * micro-batch; probe it any time with [[IvfIndex.probe]].
    * `maxLiveTrees` bounds probe planning cost via auto-compaction (see
    * [[ingestBatch]]); 0 disables it.
    */
  def start(
      stream: DataFrame,
      indexPath: String,
      checkpointDir: String,
      nlist: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      filesPerList: Int = 1,
      trigger: Trigger = Trigger.AvailableNow(),
      maxLiveTrees: Int = 16,
      keepCols: Seq[String] = Nil): StreamingQuery =
    stream.writeStream
      .queryName("graft-ivf-ingest")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          ingestBatch(batch, indexPath, batchId, nlist, idCol, vecCol,
            filesPerList, maxLiveTrees, keepCols)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
