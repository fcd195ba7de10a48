package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Scope
import graft.ops.{DedupOps, MinhashIndexStore}

/** Always-on dedup ingest: a document stream drives
  * [[graft.ops.MinhashIndexStore.ingestLabeled]] through
  * `foreachBatch`, so the persisted band/shingle/label index IS the
  * stream's state — the same artifact an ad-hoc batch job or the
  * `d_cluster_index_incremental` query reads, not a private state
  * store (the [[StreamDedup]] candidate machine is the
  * state-store-native alternative for candidate EMISSION; this
  * wrapper is the artifact-maintaining one a training-data pipeline
  * runs daily).
  *
  * Replay contract (the [[FrontierStream]] shape): Structured
  * Streaming re-runs the last uncommitted batch from its WAL on
  * restart, with the same batchId and — for replayable sources — the
  * same rows. The batchId rides the ingest commit as the record's
  * `tag`; a replayed batch at or below the committed tag is a no-op,
  * so a crash between the index commit and the checkpoint advance
  * cannot double-ingest a shard (DedupIngestStreamSpec's replay
  * twin). Batches arrive ordered per query, so the single monotone
  * tag suffices — the CAS rejects any interleaved writer outright. */
object DedupIngestStream {

  /** One micro-batch: shingle the (doc_id, text) rows and ingest them
    * as a labeled shard. Empty batches are skipped (naturally
    * idempotent — no version burned). Returns the committed (or
    * already-committed, on replay) version. */
  def processBatch(root: String, batch: DataFrame, batchId: Long): Long = {
    val spark = batch.sparkSession
    if (batch.isEmpty) {
      val (v, _) = MinhashIndexStore.latestVersion(root)
      v
    } else Scope {
      val shard = DedupOps.shingleDocs(batch.select("doc_id", "text"))
      MinhashIndexStore.ingestLabeled(spark, root, shard,
        tag = Some(batchId))
    }
  }

  /** Wire a streaming (doc_id, text) frame into the index at `root`
    * (which must have been [[graft.ops.MinhashIndexStore.save]]d with
    * labels — possibly over an empty corpus for a from-scratch
    * stream).
    *
    * `vacuumEvery > 0` prunes index history on a batch cadence
    * (keeping `vacuumKeep` versions after the batch's commit) — an
    * always-on stream accretes one version per micro-batch, and
    * without in-loop retention `_commits/` and dead forwarding dirs
    * grow unboundedly (the frontier's r10 lesson, applied here; the
    * mirror of [[EmbeddingIngestStream.run]]'s knob).
    *
    * `compactEvery > 0` folds the accreted shard dir families (and
    * outstanding tombstones, and the forwarding map) on a batch
    * cadence: each ingest adds one dir family to the manifest, so an
    * always-on stream's record grows one line-set per batch and
    * every reader pays a longer dir-union until someone folds it —
    * compaction was a manual call, which for a stream means NOBODY'S
    * call (the vacuum lesson again, one level up). Cadence policy
    * per [[graft.ops.MinhashIndexStore.compact]]'s scaladoc: manifest
    * hygiene, ~10² dir-lines — so a compactEvery of 32-128 batches
    * keeps the union width single-digit × cadence. Compaction runs
    * AFTER the batch's ingest commit and is itself a CAS commit; a
    * crash between them leaves a valid un-compacted index (the next
    * cadence hit folds it). */
  def run(docs: DataFrame, root: String, checkpointDir: String,
      vacuumEvery: Int = 0, vacuumKeep: Int = 2,
      compactEvery: Int = 0)
      : StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        processBatch(root, batch, batchId)
        if (compactEvery > 0 && batchId > 0 &&
            batchId % compactEvery == 0)
          MinhashIndexStore.compact(spark, root)
        if (vacuumEvery > 0 && batchId % vacuumEvery == 0)
          MinhashIndexStore.vacuum(root, keep = vacuumKeep)
        ()
      }
      .start()
}
