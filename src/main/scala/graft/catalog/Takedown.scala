package graft.catalog

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ArtifactLog
import graft.ops.ArtifactLog.{Rec, dropTombs, readTombs}

/** Package takedown with FK-cascade semantics — the reference's
  * `Package.delete()` cascading to its Resource rows and matchcode
  * index rows through FK `on_delete=CASCADE`
  * (packagedb/models.py:1191-1226), re-expressed for immutable
  * object-store tables.
  *
  * The catalog here is a MULTI-TABLE versioned manifest (one
  * [[graft.ops.ArtifactLog]] record of kind `cat` per version, one
  * tagged dir per table):
  *
  * {{{
  *   P  packages        (Store.writePackages layout; key download_url)
  *   R  resources       (key (download_url, path))
  *   X  exact-file index    (sha1 → download_url, path)
  *   A  approx fingerprint index (download_url, path, …, fingerprint)
  *   N  snippet index   (fingerprint, download_url, path, position)
  *   T  tombstones      (download_url) — the takedowns
  * }}}
  *
  * Postgres gives the reference its cascade atomicity for free; an
  * object store gives none, and rewriting five tables per takedown
  * would be O(catalog). Both problems fall to the same move as the
  * index-artifact stores ([[graft.ops.IvfIndexStore.delete]]): a
  * takedown stages ONE tiny tombstone dir and CAS-commits ONE record
  * — the transactional boundary is the commit record, so a reader
  * sees either the full pre-delete catalog or the full post-delete
  * catalog, never a package whose resources are gone but whose index
  * rows still match. Every table loads through a broadcast anti-join
  * on the tombstoned urls; [[compact]] folds the filter physically
  * and drops the T lines. Time travel is the flip side: pre-takedown
  * versions read complete until [[vacuum]] prunes them — a takedown
  * that must erase history is vacuum(keep = 1) after the commit.
  *
  * A tombstone suppresses its url until a compact folds it; a package
  * RE-MINED after that fold re-enters normally (mirroring the
  * reference, where a deleted package is re-created if its source is
  * visited again). [[mergePackages]] rewrites only the P dir and
  * re-links the other tables' dirs untouched — the manifest is how a
  * commit spans five tables while staging one.
  */
object Takedown {

  private val Kind = "cat"
  private val TableTags = Seq("P", "R", "X", "A", "N")

  /** One loaded catalog version; every frame is already filtered
    * through the version's tombstones. */
  final case class Catalog(version: Long, packages: DataFrame,
      resources: DataFrame, exactIndex: DataFrame,
      approxIndex: DataFrame, snippetIndex: DataFrame)

  /** Commit version 1 from the five table frames. Each table must
    * carry the cascade key `download_url` (the catalog's merge
    * identity — Store.scala's clustering column). */
  def save(root: String, packages: DataFrame, resources: DataFrame,
      exactIndex: DataFrame, approxIndex: DataFrame,
      snippetIndex: DataFrame,
      store: CommitStore = LinkCommitStore): Long = {
    TxLog.init(root)
    val frames = Seq(packages, resources, exactIndex, approxIndex,
      snippetIndex)
    frames.foreach(f => require(f.columns.contains("download_url"),
      "every catalog table must carry the download_url cascade key"))
    val dirName = UUID.randomUUID().toString
    TableTags.zip(frames).foreach { case (tag, f) =>
      f.write.parquet(s"$root/data/$dirName/$tag")
    }
    // a record must carry at least one kv (an empty header trims to
    // '#cat' and fails the kind check on read)
    ArtifactLog.commit(root, Kind, ArtifactLog.version(root),
      Rec(Seq("tables" -> TableTags.size.toString),
        TableTags.map(t => t -> s"$dirName/$t")), store)
  }

  private def table(spark: SparkSession, root: String, r: Rec,
      tag: String, tombs: Option[DataFrame]): DataFrame =
    dropTombs(spark.read.parquet(s"$root/data/${r.dirsOf(tag).head}"),
      tombs, "download_url")

  /** The newest version: one listing of `_commits`, one record parse. */
  def load(spark: SparkSession, root: String): Catalog = {
    val (v, r) = ArtifactLog.latest(root, Kind)
    catalog(spark, root, v, r)
  }

  /** Time travel: the catalog as of `version` — a pre-takedown
    * version still reads the deleted package COMPLETE (its resources
    * and index rows included), because its record's T lines don't
    * carry the later tombstone. */
  def loadAt(spark: SparkSession, root: String, version: Long)
      : Catalog =
    catalog(spark, root, version, ArtifactLog.recordAt(root, Kind, version))

  /** The tables record `r` (version `version`) names. */
  private def catalog(spark: SparkSession, root: String, version: Long,
      r: Rec): Catalog = {
    val tombs = readTombs(spark, root, r.dirsOf("T"))
    Catalog(version,
      table(spark, root, r, "P", tombs),
      table(spark, root, r, "R", tombs),
      table(spark, root, r, "X", tombs),
      table(spark, root, r, "A", tombs),
      table(spark, root, r, "N", tombs))
  }

  /** THE takedown: tombstone `urls` (a single-column `download_url`
    * frame) in one CAS commit. O(urls) staging; no table is read or
    * rewritten — the package row, its resources, and every matchcode
    * index row vanish together at the load seam, which is the
    * FK-cascade contract. Rebase-on-conflict is safe (the staged
    * tombstone dir filters whatever table dirs the winning record
    * carries); `tag` gives streaming takedown feeds the replay-no-op
    * contract of the artifact stores. */
  def takedown(root: String, urls: DataFrame,
      store: CommitStore = LinkCommitStore,
      tag: Option[Long] = None, tagKey: String = "tag"): Long = {
    ArtifactLog.channel(tagKey)
    val (v0, head0) = ArtifactLog.latest(root, Kind)
    if (ArtifactLog.landed(head0, tag, tagKey)) return v0
    val dirName = UUID.randomUUID().toString
    urls.select("download_url").distinct()
      .write.parquet(s"$root/data/$dirName/T")
    ArtifactLog.rebase(root, Kind, store, dirName, tag, tagKey)(latest =>
      Rec(latest.kv, latest.dirs :+ ("T" -> s"$dirName/T")))
  }

  /** Merge a scanned-package batch into the P table under the same
    * level rules as the single-table catalog ([[TxLog.mergeCommit]]),
    * as one manifest commit that REWRITES ONLY the P dir and re-links
    * R/X/A/N/T untouched — the multi-table manifest's point. The
    * merge's existing side reads through the tombstones (a taken-down
    * package is nonexistent to the merge), so the new P dir is also a
    * partial physical fold. A lost CAS propagates for the caller to
    * re-run (the merge result depends on the snapshot it read). */
  def mergePackages(spark: SparkSession, root: String,
      incoming: DataFrame, now: String,
      store: CommitStore = LinkCommitStore): Long = {
    val (v, head) = ArtifactLog.latest(root, Kind)
    val cat = loadAt(spark, root, v)
    val merged =
      MergeEngine.mergePackages(cat.packages, incoming, now).packages
    val dirName = UUID.randomUUID().toString
    merged.write.parquet(s"$root/data/$dirName/P")
    ArtifactLog.commit(root, Kind, v,
      Rec(head.kv, head.dirs.filterNot(_._1 == "P") :+
        ("P" -> s"$dirName/P")), store)
  }

  /** Fold outstanding tombstones physically into all five tables and
    * drop the T lines — after this, the takedown costs no anti-join
    * and the urls are free to re-enter via later merges. */
  def compact(spark: SparkSession, root: String,
      store: CommitStore = LinkCommitStore): Long = {
    val (v, head) = ArtifactLog.latest(root, Kind)
    val cat = loadAt(spark, root, v) // tomb-filtered frames
    val dirName = UUID.randomUUID().toString
    val frames = Seq(cat.packages, cat.resources, cat.exactIndex,
      cat.approxIndex, cat.snippetIndex)
    TableTags.zip(frames).foreach { case (tag, f) =>
      f.write.parquet(s"$root/data/$dirName/$tag")
    }
    // head.kv (never empty — save seeds it) preserves a streaming
    // takedown feed's replay tag across the fold
    ArtifactLog.commit(root, Kind, v,
      Rec(head.kv, TableTags.map(t => t -> s"$dirName/$t")), store)
  }

  def vacuum(root: String, keep: Int = 2,
      graceMs: Long = 15 * 60 * 1000L): Unit =
    ArtifactLog.vacuum(root, Kind, keep, graceMs)
}
