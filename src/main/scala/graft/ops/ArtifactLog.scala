package graft.ops

import java.nio.file.{Files, Path, Paths}

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
  * the wrong root fails loudly in both directions. */
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

  private def commitsDir(root: String): Path = Paths.get(root, "_commits")
  private def vname(v: Long): String = f"v$v%020d"

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

  def latest(root: String, kind: String): (Long, Rec) = {
    val recs = list(root)
    require(recs.nonEmpty, s"$root has no committed index")
    (recs.head._1, parse(kind, Files.readString(recs.head._2).trim))
  }

  def recordAt(root: String, kind: String, version: Long): Rec = {
    val recs = list(root)
    val p = recs.collectFirst { case (v, path) if v == version => path }
    require(p.isDefined,
      s"version $version is not in $root's retained window " +
        s"(have ${recs.map(_._1).sorted.mkString(",")}); vacuum(keep) " +
        "bounds how far back index reads reach")
    parse(kind, Files.readString(p.get).trim)
  }

  /** CAS-commit `rec` as `readVersion + 1`, after joining the calling
    * [[graft.Scope]] region's background tasks (the staging writes the
    * record names); [[TxLog.CommitConflict]] propagates for the
    * caller's rebase loop. */
  def commit(root: String, kind: String, readVersion: Long, rec: Rec,
      store: CommitStore): Long = {
    graft.Scope.join()
    TxLog.commit(root, readVersion, render(kind, rec), store)
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
              Files.isDirectory(d) && treeMtime(d) <= cutoff)
            Files.walk(d).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
        }
      } finally l.close()
    }
    TxLog.sweepDotOrphans(commitsDir(root), cutoff)
    TxLog.sweepDotOrphans(dataDir, cutoff)
  }

  private def treeMtime(p: Path): Long = {
    val s = Files.walk(p)
    try s.mapToLong(f => Files.getLastModifiedTime(f).toMillis)
      .max.orElse(0L)
    finally s.close()
  }
}
