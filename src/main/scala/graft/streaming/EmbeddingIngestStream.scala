package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Scope
import graft.ops.{IvfIndexStore, SimilarityOps}

/** Always-on embedding ingest — the ANN mirror of
  * [[DedupIngestStream]]: a (vec_id, embedding) stream drives
  * [[graft.ops.IvfIndexStore.append]] through `foreachBatch`, so the
  * persisted IVF index is the stream's state, growing one O(batch)
  * inverted-list shard per micro-batch on the FROZEN centroids.
  * Unlike the dedup index, a from-scratch bootstrap needs a non-empty
  * [[graft.ops.IvfIndexStore.save]] first: the coarse quantizer must
  * TRAIN on something, and retraining is a generation change
  * (re-save), never a stream-side mutation — the standard IVF
  * deployment cadence (train daily/weekly offline, ingest
  * continuously).
  *
  * Replay contract: the batchId rides the append record's `tag`; a
  * replayed batch at or below the committed tag is a no-op, so a
  * crash between the CAS and the checkpoint advance cannot
  * double-append a shard (EmbeddingIngestStreamSpec's replay twin). */
object EmbeddingIngestStream {

  /** One micro-batch: quantize and append. Empty batches are skipped
    * (naturally idempotent). [[IvfIndexStore.append]] reads the live
    * index's shape from its record, so on a PQ head the shard lands
    * with its code rows. Returns the committed (or, on replay,
    * already-committed) version. */
  def processBatch(root: String, batch: DataFrame, batchId: Long): Long =
    if (batch.isEmpty) IvfIndexStore.latestVersion(root)
    else Scope {
      IvfIndexStore.append(batch.sparkSession, root,
        SimilarityOps.quantizeEmbeddings(batch.select("vec_id", "embedding")),
        tag = Some(batchId))
    }

  /** Wire a streaming (vec_id, embedding) frame into the saved index
    * at `root`.
    *
    * `monitorEvery > 0` arms the drift monitor: every that-many
    * batches (after the batch's commit), [[IvfIndexStore.driftStats]]
    * runs against the live index and `onDrift` fires when
    * [[IvfIndexStore.needsRetrain]] trips — the deployment's cue to
    * schedule [[IvfIndexStore.retrain]] OUT OF BAND (retraining is a
    * generation change, never a stream-side mutation; an in-loop
    * retrain would stall every batch behind a corpus-sized job and
    * race the very appends it serializes with). The monitor's cells
    * scan is column-pruned to the `cell` column but still O(corpus)
    * rows per look — which is why it runs on a CADENCE, not per
    * batch: drift develops over many batches, and the stream's
    * per-batch work must stay O(batch)
    * (EmbeddingIngestStreamSpec pins both the firing and the
    * cadence).
    *
    * `vacuumEvery > 0` prunes index history on the same kind of
    * cadence (after the batch's commit, keeping `vacuumKeep`
    * versions): an always-on stream accretes one version per
    * micro-batch, so without in-loop retention `_commits/` and the
    * dead shard dirs grow unboundedly — the lesson the frontier's
    * TxLog learned in r10, applied to the artifact stores. The
    * default grace window protects a concurrent appender's staged
    * dirs; time travel reaches back `vacuumKeep` versions and no
    * further.
    *
    * `compactEvery > 0` folds the accreted shard dirs (cells AND
    * code shards on a PQ head, plus outstanding tombstones) on a
    * batch cadence — each append adds a dir family to the manifest
    * and every reader pays a longer dir-union until the fold; for an
    * always-on stream a manual compact is nobody's call (see
    * [[DedupIngestStream.run]]'s knob and cadence rationale).
    * Compaction runs after the batch's commit; a crash between them
    * leaves a valid un-compacted index. */
  def run(embeddings: DataFrame, root: String, checkpointDir: String,
      monitorEvery: Int = 0,
      onDrift: IvfIndexStore.DriftStats => Unit = _ => (),
      vacuumEvery: Int = 0, vacuumKeep: Int = 2,
      compactEvery: Int = 0)
      : StreamingQuery =
    embeddings.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(root, batch, batchId)
        if (monitorEvery > 0 && batchId % monitorEvery == 0) {
          val stats = IvfIndexStore.driftStats(
            IvfIndexStore.load(batch.sparkSession, root))
          if (IvfIndexStore.needsRetrain(stats)) onDrift(stats)
        }
        if (compactEvery > 0 && batchId > 0 &&
            batchId % compactEvery == 0)
          IvfIndexStore.compact(batch.sparkSession, root)
        if (vacuumEvery > 0 && batchId % vacuumEvery == 0)
          IvfIndexStore.vacuum(root, keep = vacuumKeep)
        ()
      }
      .start()
}
