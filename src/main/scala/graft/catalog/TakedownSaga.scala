package graft.catalog

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{ArtifactLog, IvfIndexStore, MinhashIndexStore}
import graft.ops.ArtifactLog.Rec

/** CROSS-STORE takedown — the seam the per-store deletes leave open.
  * A real removal (license revocation, GDPR request, DMCA) must reach
  * every derived artifact of the document at once: the catalog
  * ([[Takedown]], by download_url), the dedup index
  * ([[graft.ops.MinhashIndexStore]], by doc_id), and the ANN index
  * ([[graft.ops.IvfIndexStore]], by vec_id). Three independent CAS
  * logs cannot commit atomically (there is no cross-root compare-and-
  * swap on an object store), so this is the standard saga shape:
  *
  *   1. INTENT — the id set and the member-store roster are
  *      CAS-committed to the saga's own log (kind `tds`, one record
  *      per event) BEFORE any store is touched; a coordinator that
  *      dies later leaves a durable record of what must finish.
  *   2. APPLY — each member store's own `delete` runs with
  *      `tag = sagaId` on the dedicated `tdtag` replay channel
  *      ([[ArtifactLog.TagKeys]]): per-store exactly-once, because a
  *      re-applied saga id at or below the store's committed `tdtag`
  *      watermark is a no-op — and the channel is SEPARATE from the
  *      ingest streams' `tag` watermark, so a saga replay can never
  *      be swallowed by a higher stream batchId. Lost CAS races
  *      retry per store (the store's delete re-reads its head).
  *   3. DONE — a completion record on the saga log. Recovery
  *      ([[runPending]]) replays every intent newer than the newest
  *      completion; per-store idempotence makes the replay safe from
  *      ANY crash point — before, between, or after member applies.
  *
  * What this gives up vs a database transaction — and why it is the
  * right trade: there is a window where store A shows the deletion
  * and store B does not (each store is individually consistent at
  * its own commit boundary; cross-store readers see eventual
  * completion, driven by any caller of [[runPending]]). What it
  * keeps: no takedown is ever lost (the intent is durable before the
  * first apply), none is applied twice (per-store watermarks), and
  * every store converges to the post-delete state. The reference
  * gets cross-table atomicity from Postgres FK cascades
  * (packagedb/models.py `on_delete=CASCADE`); across independent
  * object-store artifacts, saga-with-intent IS the published
  * production answer (outbox pattern).
  *
  * Saga ids are the intent records' own versions — monotone by
  * construction of the log, which is exactly what the watermark
  * no-op rule needs. The corollary CONTRACT: all sagas touching a
  * store must flow through ONE saga log (a second log restarts ids
  * at 1, and the store's watermark rightly swallows them — the spec
  * demonstrates the hazard). One log per store roster is the outbox
  * pattern's one-outbox-per-database rule. TakedownSagaSpec drills
  * the crash matrix.
  */
object TakedownSaga {

  private val Kind = "tds"

  /** Member-store roster: each root is optional (a deployment may
    * run without, say, an ANN index). The ids frame passed to
    * [[begin]] must carry `download_url` if `catalog` is set,
    * `doc_id` if `dedup` is set, `vec_id` if `ann` is set. */
  final case class Stores(catalog: Option[String] = None,
      dedup: Option[String] = None, ann: Option[String] = None)

  /** Durable intent: commit the id set + roster to the saga log and
    * return the saga id (the record's version). Nothing is applied
    * yet — [[runPending]] (or [[takedownAll]]) drives completion.
    *
    * `tag` is the SAGA LOG's own replay channel, for streaming
    * takedown feeds ([[graft.streaming.TakedownStream]]): a replayed
    * stream batch must not open a SECOND intent for the same ids —
    * per-store `tdtag` idempotence would make the duplicate deletes
    * correct but each would still burn member-store versions and
    * re-run the labeled split recompute. An intent whose tag is at
    * or below the newest intent's committed tag returns that
    * intent's saga id as a no-op, the foreachBatch contract every
    * store in this codebase speaks. */
  def begin(spark: SparkSession, sagaRoot: String, ids: DataFrame,
      stores: Stores, store: CommitStore = LinkCommitStore,
      tag: Option[Long] = None): Long = {
    TxLog.init(sagaRoot)
    Seq(stores.catalog.map(_ => "download_url"),
        stores.dedup.map(_ => "doc_id"),
        stores.ann.map(_ => "vec_id")).flatten
      .foreach(c => require(ids.columns.contains(c),
        s"saga ids must carry $c for the configured member store"))
    val replay = replayedIntent(sagaRoot, tag)
    if (replay.isDefined) return replay.get // replayed batch
    val dirName = UUID.randomUUID().toString
    ids.write.parquet(s"$sagaRoot/data/$dirName/ids")
    // the intent's tag rides its own position in the header (after
    // `state`), so the saga stamps it itself and keeps its own replay
    // check: the newest INTENT's tag, not the head record's
    ArtifactLog.rebase(sagaRoot, Kind, store, dirName,
        replayed = () => replayedIntent(sagaRoot, tag)) { _ =>
      Rec(
        Seq("state" -> "open") ++
          tag.map(t => "tag" -> t.toString) ++
          stores.catalog.map("cat" -> _) ++
          stores.dedup.map("mh" -> _) ++
          stores.ann.map("ivf" -> _),
        Seq("I" -> s"$dirName/ids"))
    }
  }

  /** The saga id of the intent that already carries replay tag `tag`
    * (or a later one), if any. */
  private def replayedIntent(sagaRoot: String,
      tag: Option[Long]): Option[Long] =
    tag.flatMap(t => newestIntentTag(sagaRoot).collect {
      case (id, committed) if committed >= t => id })

  /** (sagaId, tag) of the newest INTENT record carrying a tag, if
    * any — completion records don't carry the feed's tag, so the
    * replay check walks to the newest open/closed intent. */
  private def newestIntentTag(sagaRoot: String): Option[(Long, Long)] =
    ArtifactLog.list(sagaRoot).iterator
      .map { case (v, p) => v -> ArtifactLog.parse(Kind,
        java.nio.file.Files.readString(p).trim) }
      .collectFirst { case (v, r)
        if r.kvMap.get("state").contains("open") &&
          r.kvMap.contains("tag") =>
        (v, r.kvMap("tag").toLong) }

  /** Apply one saga's deletes to its member stores. Package-private
    * with a `crashAfter` seam so the spec can kill the coordinator
    * between member applies; production callers go through
    * [[runPending]]. Per-store idempotence (`tdtag` watermark) makes
    * any partial application re-runnable. */
  private[graft] def applyOne(spark: SparkSession, sagaRoot: String,
      sagaId: Long, rec: Rec, store: CommitStore,
      crashAfter: Int = Int.MaxValue): Unit = {
    val ids = spark.read.parquet(
      s"$sagaRoot/data/${rec.dirsOf("I").head}")
    var applied = 0
    def step(f: => Unit): Unit = {
      if (applied >= crashAfter)
        throw new IllegalStateException(
          s"injected coordinator crash after $applied member applies")
      f; applied += 1
    }
    rec.kvMap.get("cat").foreach(root => step {
      Takedown.takedown(root, ids.select("download_url"),
        store, tag = Some(sagaId), tagKey = "tdtag")
    })
    rec.kvMap.get("mh").foreach(root => step {
      MinhashIndexStore.delete(spark, root, ids.select("doc_id"),
        store, tag = Some(sagaId), tagKey = "tdtag")
    })
    rec.kvMap.get("ivf").foreach(root => step {
      IvfIndexStore.delete(spark, root, ids.select("vec_id"),
        store, tag = Some(sagaId), tagKey = "tdtag")
    })
  }

  /** Drive every open saga to completion, oldest first: re-apply its
    * member deletes (no-ops where a store's `tdtag` watermark already
    * covers the saga id) and commit the completion record. This IS
    * crash recovery — run it on coordinator restart and after every
    * [[begin]]. Returns the completed saga ids. */
  def runPending(spark: SparkSession, sagaRoot: String,
      store: CommitStore = LinkCommitStore,
      crashAfter: Int = Int.MaxValue): Seq[Long] = {
    val recs = ArtifactLog.list(sagaRoot).map { case (v, p) =>
      v -> ArtifactLog.parse(Kind,
        java.nio.file.Files.readString(p).trim)
    }
    // the completion watermark: every intent at or below the newest
    // `done` record's `upto` is finished (completions carry the
    // saga id they closed)
    val doneUpto = recs
      .filter(_._2.kvMap.get("state").contains("done"))
      .flatMap(_._2.kvMap.get("upto").map(_.toLong))
      .maxOption.getOrElse(0L)
    val open = recs
      .filter { case (v, r) =>
        r.kvMap.get("state").contains("open") && v > doneUpto }
      .sortBy(_._1)
    open.map { case (sagaId, rec) =>
      applyOne(spark, sagaRoot, sagaId, rec, store, crashAfter)
      TxLog.optimistic() {
        ArtifactLog.commit(sagaRoot, Kind, ArtifactLog.version(sagaRoot),
          Rec(Seq("state" -> "done", "upto" -> sagaId.toString),
            rec.dirs), store)
      }
      sagaId
    }
  }

  /** The one-call path: durable intent, then immediate completion.
    * A crash anywhere inside leaves an open intent that the next
    * [[runPending]] finishes. */
  def takedownAll(spark: SparkSession, sagaRoot: String,
      ids: DataFrame, stores: Stores,
      store: CommitStore = LinkCommitStore): Long = {
    val id = begin(spark, sagaRoot, ids, stores, store)
    runPending(spark, sagaRoot, store)
    id
  }

  /** Saga-log hygiene: completed intents older than the keep window
    * prune like any artifact history. */
  def vacuum(sagaRoot: String, keep: Int = 16,
      graceMs: Long = 15 * 60 * 1000L): Unit =
    ArtifactLog.vacuum(sagaRoot, Kind, keep, graceMs)
}
