package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.catalog.{CommitStore, TxLog}

/** Shared commit-log machinery for versioned on-disk INDEX artifacts
  * ([[IvfIndexStore]], [[MinhashIndexStore]]): each version is one
  * SELF-CONTAINED record under `root/_commits/v<20-digit>` — a
  * `#<kind> k1=v1 ...` header plus one `TAG\t<relative-dir>` line per
  * referenced data dir — CAS-committed through the catalog's
  * [[graft.catalog.CommitStore]] seam ([[TxLog.commit]]). Index
  * artifacts accrete a handful of shard dirs per ingest cadence (not
  * a partition map per micro-batch like the catalog/frontier logs),
  * so full-manifest records stay small, every version is its own
  * checkpoint, and the overlay-chain/partial-read class of bugs is
  * excluded by construction. The header kind is checked on every
  * parse, and the formats are disjoint from [[TxLog]]'s (whose
  * `snapshot` throws on a `#`-headed record), so a reader pointed at
  * the wrong root fails loudly in both directions.
  *
  * Commits follow [[TxLog]]'s one protocol ([[TxLog.optimistic]]).
  * Appenders, tombstone deletes, takedowns and saga intents stage once
  * and REBASE through [[rebase]]; writers whose staging depends on the
  * head they read (labeled ingest/delete, compact, retrain, catalog
  * merges) commit once through [[commit]] and a lost CAS propagates.
  * Tagged writers of either kind share [[landed]] and [[stamped]]. */
private[graft] object ArtifactLog {

  /** One record: header key=values (ordered) + tagged dir lines
    * (ordered; tags may repeat — one `D` per cells shard, etc.). */
  final case class Rec(kv: Seq[(String, String)],
      dirs: Seq[(String, String)]) {
    def kvMap: Map[String, String] = kv.toMap
    def dirsOf(tag: String): Seq[String] =
      dirs.collect { case (t, d) if t == tag => d }
  }

  /** Replay-tag CHANNELS: `tag` is the ingest streams' batchId
    * watermark; `tdtag` is the takedown saga's
    * ([[graft.catalog.TakedownSaga]]) — two independent
    * monotone-watermark namespaces on the same record, so a saga
    * replay can never be swallowed by a higher stream batchId (or
    * vice versa). Structure-equality checks (an appender validating
    * nothing but shards moved under it) must ignore BOTH: either
    * channel advancing is not a structural change. */
  val TagKeys: Set[String] = Set("tag", "tdtag")

  def commitsDir(root: String): Path = Paths.get(root, "_commits")

  /** `require`s that `tagKey` names a replay channel. */
  def channel(tagKey: String): Unit =
    require(TagKeys(tagKey), s"unknown tag channel $tagKey")

  /** Whether `r` already carries replay tag `tag` (or a later one) on
    * channel `tagKey`: that batch landed, so it must not stage again. */
  def landed(r: Rec, tag: Option[Long], tagKey: String): Boolean =
    tag.exists(t => r.kvMap.get(tagKey).exists(_.toLong >= t))

  /** `kv` advanced to replay tag `tag` on channel `tagKey`. An UNTAGGED
    * writer PRESERVES the committed tag — erasing it would let a
    * crash-replayed stream batch land twice after any interleaved
    * ad-hoc write. */
  def stamped(kv: Seq[(String, String)], tag: Option[Long],
      tagKey: String): Seq[(String, String)] =
    tag.fold(kv)(t => kv.filterNot(_._1 == tagKey) :+ (tagKey -> t.toString))

  def render(kind: String, r: Rec): String =
    (s"#$kind ${r.kv.map { case (k, v) => s"$k=$v" }.mkString(" ")}" +:
      r.dirs.map { case (t, d) => s"$t\t$d" }).mkString("\n")

  def parse(kind: String, content: String): Rec = {
    val lines = content.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val header = lines.headOption.getOrElse("")
    require(header.startsWith(s"#$kind "),
      s"not a #$kind artifact record: '$header'")
    val kv = header.drop(kind.length + 2).split("\\s+").toSeq
      .map(_.split("=", 2)).collect { case Array(a, b) => a -> b }
    val dirs = lines.tail.map { l =>
      val i = l.indexOf('\t')
      require(i > 0, s"malformed dir line '$l'")
      l.take(i) -> l.drop(i + 1)
    }
    Rec(kv, dirs)
  }

  /** All commit records, newest first. */
  def list(root: String): Seq[(Long, Path)] = {
    val dir = commitsDir(root)
    if (!Files.exists(dir)) return Seq.empty
    val l = Files.list(dir)
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Path)]
      val it = l.iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith("v")) buf += ((n.drop(1).toLong, p))
      }
      buf.sortBy(-_._1).toSeq
    } finally l.close()
  }

  /** The newest committed version, 0 before the first commit. */
  def version(root: String): Long = list(root).headOption.fold(0L)(_._1)

  def latest(root: String, kind: String): (Long, Rec) = {
    val recs = list(root)
    require(recs.nonEmpty, s"$root has no committed index")
    (recs.head._1, parse(kind, Files.readString(recs.head._2).trim))
  }

  /** One root's reused read handle: built in `session` from the record
    * `key` names. */
  private final case class Handle(session: SparkSession, key: Any,
      frames: AnyRef)

  /** Roots with a reused handle, least recently read first. The cap
    * bounds the sessions and plans the map keeps alive (a handle's
    * frames hold their session); one entry per root, so a root's newer
    * version replaces the older one's frames. */
  private val MaxHandles = 32
  private val handles =
    new java.util.LinkedHashMap[String, Handle](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Handle]): Boolean =
        size > MaxHandles
    }

  /** The frames `build` makes for `root`'s newest record `key`, reused
    * while `key` is unchanged ([[IvfIndexStore.load]],
    * [[MinhashIndexStore.load]], [[TxLog.readDelta]]): the same
    * DataFrames come back, whose relations already hold the inferred
    * schema and the file listing, so a repeat read starts no Spark job
    * and lists no data dir. Sound because committed data dirs are
    * uuid-named and written once, and vacuum keeps the newest record
    * and every dir it names; any commit moves the key, so the next
    * call rebuilds. A handle is only returned to the session that
    * built it (compared by reference: a [[graft.Scope.staged]] clone
    * is another session), and entries of stopped sessions are
    * dropped. Callers pass only the NEWEST record, so no version is
    * held longer than a caller holding a fresh handle would hold it. */
  def reuse[V <: AnyRef](spark: SparkSession, root: String, key: Any)(
      build: => V): V = {
    val hit = handles.synchronized(Option(handles.get(root)))
      .filter(h => (h.session eq spark) && h.key == key)
    hit.fold {
      val frames = build
      handles.synchronized {
        handles.values.removeIf(_.session.sparkContext.isStopped)
        handles.put(root, Handle(spark, key, frames))
      }
      frames
    }(_.frames.asInstanceOf[V])
  }

  /** The frames [[reuse]] keeps for `root`, if any. */
  private[graft] def reused(root: String): Option[AnyRef] =
    handles.synchronized(Option(handles.get(root)).map(_.frames))

  def recordAt(root: String, kind: String, version: Long): Rec = {
    val recs = list(root)
    val p = recs.collectFirst { case (v, path) if v == version => path }
    require(p.isDefined,
      s"version $version is not in $root's retained window " +
        s"(have ${recs.map(_._1).sorted.mkString(",")}); vacuum(keep) " +
        "bounds how far back index reads reach")
    parse(kind, Files.readString(p.get).trim)
  }

  /** Tombstone dirs are tiny unpartitioned key tables — read whole,
    * broadcast, anti-joined ([[dropTombs]]). None → no filter in any
    * plan. */
  def readTombs(spark: SparkSession, root: String,
      dirs: Seq[String]): Option[DataFrame] =
    if (dirs.isEmpty) None
    else Some(dirs.sorted
      .map(d => spark.read.parquet(s"$root/data/$d"))
      .reduce(_ unionByName _))

  /** `df` without the rows whose `key` a tombstone names. */
  def dropTombs(df: DataFrame, tombs: Option[DataFrame],
      key: String): DataFrame =
    tombs.fold(df)(t => df.join(broadcast(t), Seq(key), "left_anti"))

  /** Shard dirs are each a partitioned table root; Spark's partition
    * discovery refuses a multi-root scan without a common basePath, so
    * each dir reads under its own basePath and the shards union — the
    * unions are FEW (one per un-compacted shard, bounded by the stores'
    * compaction cadence) and unionByName keeps the partition column
    * positional drift out. */
  def readDirs(spark: SparkSession, root: String,
      dirs: Seq[String]): DataFrame =
    dirs.sorted
      .map(d => spark.read.option("basePath", s"$root/data/$d")
        .parquet(s"$root/data/$d"))
      .reduce(_ unionByName _)

  /** CAS-commit `rec` as `readVersion + 1`, after joining the calling
    * [[graft.Scope]] region's background tasks (the staging writes the
    * record names); [[TxLog.CommitConflict]] propagates for the
    * caller's rebase loop. */
  def commit(root: String, kind: String, readVersion: Long, rec: Rec,
      store: CommitStore): Long = {
    graft.Scope.join()
    TxLog.commit(root, readVersion, render(kind, rec), store)
  }

  /** The commit of a writer that staged `staged` (a dir under
    * `root/data`) ONCE and rebases only its record: each attempt of
    * [[TxLog.optimistic]] reads the newest record and, unless the
    * batch already landed, CASes `next(head)` with replay tag `tag`
    * stamped on channel `tagKey`. The replay check runs on EVERY
    * attempt — the entry-time check alone loses the zombie-driver race
    * (two drivers replay one batch, both pass it, one commits, and the
    * loser's rebase would commit the batch AGAIN): it is the channel's
    * watermark, or `replayed()` where the writer keeps its own. `next`
    * holds the structure checks (a `require` failing there means a
    * concurrent commit replaced what the staging was built for).
    * Returns the committed version, or the version the batch landed
    * as. The staged dir is GC'd when the writer gives up — retries
    * exhausted, the batch landed, `next` rejecting the head — and on
    * no other failure. */
  def rebase(root: String, kind: String, store: CommitStore,
      staged: String, tag: Option[Long] = None, tagKey: String = "tag",
      replayed: () => Option[Long] = () => None)(next: Rec => Rec): Long = {
    channel(tagKey)
    // the staging writes may still run in the caller's region
    def giveUp(): Unit =
      try graft.Scope.join() finally TxLog.gcStaged(root, staged)
    TxLog.optimistic(last => if (last) giveUp()) {
      val (v, head) = list(root).headOption.fold((0L, Rec(Nil, Nil))) {
        case (v, p) => (v, parse(kind, Files.readString(p).trim)) }
      replayed().orElse(Some(v).filter(_ => landed(head, tag, tagKey))) match {
        case Some(done) => giveUp(); done
        case None =>
          val rec =
            try next(head)
            catch { case e: IllegalArgumentException => giveUp(); throw e }
          commit(root, kind, v, Rec(stamped(rec.kv, tag, tagKey), rec.dirs),
            store)
      }
    }
  }

  /** Prune history: keep the newest `keep` records, delete older
    * ones, then delete top-level data dirs no kept record references
    * (deep-tree mtime older than `graceMs`, protecting an in-flight
    * appender's staged shard) and sweep crash-orphaned dot-files. */
  def vacuum(root: String, kind: String, keep: Int,
      graceMs: Long): Unit = {
    val recs = list(root)
    if (recs.isEmpty) return
    val (kept, pruned) = recs.splitAt(math.max(1, keep))
    pruned.foreach { case (_, p) => Files.deleteIfExists(p) }
    val live: Set[String] = kept
      .flatMap { case (_, p) =>
        parse(kind, Files.readString(p).trim).dirs
          .map(_._2.split("/", 2).head)
      }.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dataDir = Paths.get(root, "data")
    if (Files.exists(dataDir)) {
      val l = Files.list(dataDir)
      try {
        val it = l.iterator()
        while (it.hasNext) {
          val d = it.next()
          val n = d.getFileName.toString
          if (!live.contains(n) && !n.startsWith(".") &&
              Files.isDirectory(d) && TxLog.treeMtime(d) <= cutoff)
            TxLog.deleteTree(d)
        }
      } finally l.close()
    }
    TxLog.sweepDotOrphans(commitsDir(root), cutoff)
    TxLog.sweepDotOrphans(dataDir, cutoff)
  }
}
