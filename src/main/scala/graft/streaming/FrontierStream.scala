package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Scope

/** ST1 as an actual Structured Streaming job — the reference's
  * always-on visit loop (`run_visit.py:143-227`: poll queue → claim →
  * visit → insert children → mark visited, forever) expressed as
  * `readStream` over a seed/tick inbox driving the claim/visit/map
  * cycle through `foreachBatch`, with the frontier state as a
  * HASH-PARTITIONED parquet table behind per-batch manifests and an
  * atomically-swapped commit pointer.
  *
  * Exactly-once across crash/restart WITHOUT a transactional table
  * format, from three ingredients:
  *
  *  1. **Partitioned state + manifests + commit pointer.** The
  *     frontier is hash-partitioned on `canonical` into
  *     [[StatePartitions]] fixed partitions under immutable
  *     `sdata/<uuid>/spid=N` dirs. Each micro-batch rewrites ONLY the
  *     partitions its claims/inserts/marks touch — a batch's staged
  *     bytes are O(delta), never O(state); the round-10 layout
  *     rewrote the ENTIRE frontier per batch, the loop's one O(state)
  *     term (BASELINE.md "Round-11: O(delta) frontier state
  *     commits" measures the difference) — writes an
  *     O(touched) `#delta` manifest record to `sv=<batchId>` (full
  *     `#manifest` checkpoints at the [[ManifestCheckpointEvery]]
  *     cadence bound the reader's overlay chain — metadata follows
  *     the same Delta-log shape as the data), and only then
  *     atomically moves `COMMIT.tmp` → `COMMIT` (the pointer).
  *     A crash after the state write but before the pointer swap
  *     leaves the previous version live; the replayed batch stages a
  *     fresh dir, overwrites `sv=<batchId>`, and swaps again. Readers
  *     only ever resolve a committed manifest.
  *  2. **Replay skip.** Structured Streaming re-delivers the failed
  *     batch from its WAL on restart; a batchId at or below the commit
  *     pointer has already been fully applied, so the batch is a
  *     no-op (the foreachBatch idempotence contract).
  *  3. **Batch-deterministic time.** `last_visit_date` is derived from
  *     the batchId, never the wall clock, so a replayed batch marks
  *     the SAME (canonical, last_visit_date) rows — the revisit-dedup
  *     identity the reference keys on (`minecode/models.py:182-191`)
  *     holds bit-for-bit across a mid-batch kill (proven in
  *     FrontierStreamSpec against an uninterrupted twin run).
  *
  * Why the touched-partition recompute is exact: every per-batch
  * mutation is keyed by `canonical = lower(uri)` — the state
  * partition key — so a row's update and every row it can collide
  * with (the insert-if-absent anti-join, the seed revisit checks, the
  * visited/mapped marks on duplicate-uri rows) live in the SAME
  * partition. Re-running the cycle against only the touched
  * partitions therefore yields exactly `nextState.filter(pid ∈
  * touched)`, and the untouched partitions re-link verbatim — the
  * same per-partition manifest shape proven for the catalog in
  * `TxLog.mergeCommitDelta`. The batch's claim/map-batch SELECTION
  * still reads the full frontier (a global priority queue is a global
  * read — the reference pays an indexed ORDER BY over the whole queue
  * table per poll, `minecode/models.py:272`); at 100 TB that read is
  * a columnar scan of three small columns, and the write — the part
  * that multiplies per micro-batch — stays O(delta).
  */
object FrontierStream {

  /** Default hash-partition count of the frontier state. The write
    * is O(delta) only while a batch's key spread stays well BELOW the
    * partition count (touched ≈ distinct keys; at or above it every
    * partition is rewritten and the commit degenerates to a
    * partitioned full rewrite) — so a deployment sizes it like
    * `TxLog.DefaultPartitions`: partitions ≈ max(state_bytes /
    * target_file_bytes, ~10 × batch key spread), fixed once at root
    * creation (manifests re-link old partition dirs; the count is
    * persisted in a `SPARTS` sidecar and asserted per batch). At 10⁹
    * frontier URIs and 120-key batches that is ~10⁴-10⁵ partitions;
    * BASELINE.md "Round-11: O(delta) frontier state commits" records
    * flat staged bytes at 2048. */
  val StatePartitions = 64

  /** The state partition key: hash of `canonical` (= lower(uri) —
    * the frontier's dedup identity). */
  private def spidOf(canonical: Column, partitions: Int): Column =
    pmod(xxhash64(canonical), lit(partitions.toLong)).cast("int")

  /** Where a streaming run lands its mapped packages: a TxLog delta
    * catalog root plus the projection from the map loop's raw
    * (uri, package_data) rows to mergePackages-shaped package rows.
    * With a sink configured, visit → map → MERGE ride one micro-batch
    * (the reference runs run_visit + run_map + the priority upsert
    * worker as a trio, `run_map.py:106-182` feeding
    * `model_utils.py:231-449`; here the merge is an O(delta)
    * partitioned TxLog commit tagged with the batchId, so a crash
    * between the merge and the frontier pointer swap replays WITHOUT
    * double-merging — proven batch-for-batch in FrontierStreamSpec). */
  final case class CatalogSink(
      root: String,
      toPackages: DataFrame => DataFrame,
      empty: () => DataFrame,
      partitions: Int = graft.catalog.TxLog.DefaultPartitions,
      // Retention cadence for an ALWAYS-ON stream: every N batches,
      // vacuum the sink (superseded data dirs AND old commit records
      // — one lands per micro-batch, so an unvacuumed stream's
      // maxTag/readDelta scans grow with its lifetime) and compact
      // the mapped-packages inbox (one hive partition lands per
      // batch; unpruned, packages() lists one directory per batch
      // forever). 0 = off (operator-scheduled vacuum). The stream
      // owns its sink root, so the single-vacuumer contract holds by
      // construction; vacuumGraceMs > 0 still protects interleaved
      // ad-hoc writers.
      vacuumEvery: Int = 0,
      vacuumGraceMs: Long = 20L * 60 * 1000)

  /** Frontier schema (UriRow, flags derived not stored). */
  val stateDdl: String =
    "uri STRING, canonical STRING, host STRING, priority INT, " +
      "last_visit_date TIMESTAMP, last_map_date TIMESTAMP, " +
      "wip_date TIMESTAMP, visit_error STRING"

  private def commitFile(stateRoot: String): Path =
    Paths.get(stateRoot, "COMMIT")

  /** Latest committed batch id, or -1 before the first commit. */
  def committedBatch(stateRoot: String): Long = {
    val f = commitFile(stateRoot)
    if (Files.exists(f)) Files.readString(f).trim.toLong else -1L
  }

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(stateDdl))

  /** The per-batch state manifest `sv=<batchId>`, in the same two
    * self-describing forms as TxLog's commit records (the Delta-log
    * shape — per-batch manifest METADATA must be O(touched), not
    * O(partitions): at the deployment sizing in [[StatePartitions]]'
    * scaladoc, ~10⁴-10⁵ partitions, a full pid → path map per
    * micro-batch is a multi-MB driver-side write multiplying forever):
    * {{{
    *   #delta               only the partitions this batch rewrote
    *   pid<TAB>uuid/spid=N
    *
    *   #manifest            checkpoint: the COMPLETE map, every
    *   pid<TAB>uuid/spid=N  [[ManifestCheckpointEvery]] batches
    * }}}
    * A reader overlays records downward from the requested batch to
    * the first checkpoint (newer entries win). A HEADERLESS record is
    * a pre-round-11 full map — read as a checkpoint, so existing
    * roots resolve unchanged. */
  val ManifestCheckpointEvery = 16

  private def manifestFile(stateRoot: String, batchId: Long): Path =
    Paths.get(stateRoot, s"sv=$batchId")

  /** All state manifests, newest first. */
  private def listManifests(stateRoot: String): Seq[(Long, Path)] = {
    val dir = Paths.get(stateRoot)
    if (!Files.exists(dir)) return Seq.empty
    val l = Files.list(dir)
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Path)]
      l.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("sv=")) buf += ((n.drop(3).toLong, p))
      }
      buf.sortBy(-_._1).toSeq
    } finally l.close()
  }

  private def parseEntries(content: String): Map[Int, String] =
    content.linesIterator
      .filterNot(_.startsWith("#"))
      .filter(_.contains('\t'))
      .map { line =>
        val Array(pid, path) = line.split('\t')
        pid.toInt -> path
      }.toMap

  private def isDeltaRecord(content: String): Boolean =
    content.linesIterator.nextOption().exists(_.trim == "#delta")

  /** Resolve the full pid → path map at `batchId` by overlaying
    * records downward to the first checkpoint. Test-visible: the
    * O(delta) spec asserts on per-batch touched sets through it. */
  private[graft] def readManifest(stateRoot: String, batchId: Long)
      : Map[Int, String] = {
    var overlay = Map.empty[Int, String]
    val it = listManifests(stateRoot).iterator.dropWhile(_._1 > batchId)
    var done = false
    var lowest = Long.MaxValue
    while (it.hasNext && !done) {
      val (v, p) = it.next()
      val content = Files.readString(p)
      overlay = parseEntries(content) ++ overlay
      lowest = v
      if (!isDeltaRecord(content)) done = true // checkpoint reached
    }
    // same terminate-or-throw contract as TxLog.manifestAt (ADVICE
    // r11): a delta chain must resolve through a checkpoint or reach
    // batch 0 (self-complete onto the empty frontier); running out of
    // records mid-chain means the window was pruned — a PARTIAL map
    // must never be served as the frontier
    if (!done && lowest != 0L && lowest != Long.MaxValue)
      throw new IllegalStateException(
        s"batch $batchId is outside the resolvable window: its " +
          s"overlay chain breaks below sv=$lowest (no checkpoint and " +
          "no batch-0 root) — raise retainBatches for the audit " +
          "horizon you need")
    overlay
  }

  /** The entries a batch's sv record carries: its touched partitions
    * (`#delta`), or the complete map at the checkpoint cadence. */
  private def writeManifest(stateRoot: String, batchId: Long,
      touched: Seq[(Int, String)], full: Map[Int, String]): Unit = {
    val ckpt = batchId % ManifestCheckpointEvery == 0
    val header = if (ckpt) "#manifest" else "#delta"
    val body =
      (if (ckpt) full.toSeq.sortBy(_._1) else touched.sortBy(_._1))
        .map { case (p, d) => s"$p\t$d" }
    val tmp = Paths.get(stateRoot, s".sv-${UUID.randomUUID()}")
    Files.writeString(tmp, (header +: body).mkString("\n"))
    Files.move(tmp, manifestFile(stateRoot, batchId),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def partitionPaths(stateRoot: String, m: Map[Int, String],
      pids: Seq[Int]): Seq[String] =
    pids.flatMap(m.get).sorted.map(p => s"$stateRoot/sdata/$p")

  // ---- bounded claim heads (round-11 verdict item 1) ---------------
  //
  // The write side of the loop is O(delta); the claim/map SELECTION
  // used to be the one remaining O(state) term — every micro-batch
  // scanned the whole frontier for a global
  // orderBy(-priority,-uri).limit(N). The reference pays an
  // index-assisted poll per cycle (`minecode/models.py:272-311`,
  // ORDER BY over an indexed queue, never a table scan); the Spark
  // translation is a bounded HEAD side table per queue:
  //
  //  - VHEAD: all potentially-visitable rows (within a revisit-time
  //    horizon) ranking at-or-above a persisted FLOOR — the rank of
  //    the K-th candidate at the last rebuild (or no floor when the
  //    whole candidate set fit in K: the head is then complete).
  //  - MHEAD: same for mappables (no horizon — mappability only
  //    changes when a row is touched, never by time passing).
  //
  // Exactness invariant: every candidate row NOT in a head ranks
  // strictly below its floor. Maintained O(delta): each batch removes
  // the head rows of its touched partitions and re-adds the touched
  // partitions' post-batch candidates at-or-above the floor — any row
  // whose state changed lives in a touched partition (canonical is
  // the state partition key), and untouched rows are unchanged, so
  // the invariant carries inductively. A claim from the head is then
  // EXACT whenever it yields a full batch (every pick ranks ≥ floor ≥
  // any row outside) or the head has no floor (it is complete). On a
  // short head (drain), a stale pointer (crash replay), a horizon
  // expiry, or a seed batch (seeding already reads the full frontier)
  // the batch falls back to the full scan and REBUILDS the head — so
  // the full read amortizes to 1/[[HeadHorizonBatches]] of batches in
  // steady state instead of every batch (BASELINE.md "Round-12:
  // bounded claim reads" measures the difference).
  //
  // Crash/replay: head pointers carry the batch that produced them
  // and swap AFTER the commit pointer. A crash before the commit
  // leaves both pointers at `last` — the replay claims from the same
  // head state, deterministically. A crash after the commit but
  // before the head swap skips the batch on replay and the NEXT batch
  // sees forBatch ≠ last → full rebuild. Either way claims are a pure
  // function of committed state (the FrontierStreamSpec twin proof).

  /** Claims within [rebuild, rebuild + horizon] batches resolve from
    * the head; past it, rows crossing the 240 h revisit cutoff could
    * be missing, so the head expires and rebuilds. 64 ≈ amortizing
    * the rebuild's full read to ~1.6% of batches. */
  val HeadHorizonBatches = 64

  private val HeadMinRows = 256

  /** Head capacity: K claims' worth of lookahead before a drain
    * forces the full-scan rebuild (16 batches at the default — tune
    * with `headSize` on [[processBatch]]).
    *
    * Regime boundary, stated honestly: the head serves the
    * BACKLOGGED steady state — many pending/revisitable URIs, the
    * 10⁹-URI deployment the sizing targets — where every batch fills
    * from the top-K cache and the full scan amortizes to the rebuild
    * cadence. A DRAINED frontier (fewer currently-visitable rows than
    * a batch wants, with more than K potential candidates) falls back
    * to the full scan per batch: a top-K cache cannot prove "nothing
    * below my floor is visitable" without looking. That is
    * reference-parity in COST SHAPE (its indexed poll also pays per
    * poll; cheaper per unit, but a drained crawl is an idle crawl) —
    * and when the whole candidate set fits in K the head is COMPLETE
    * (no floor) and stays exact at any claim size with no fallbacks,
    * which is the small/trickle-frontier case. */
  private def headK(batchSize: Int): Int =
    math.max(batchSize * 16, HeadMinRows)

  /** Queue-rank comparison for the (-priority, -uri) claim order:
    * rows at-or-above the floor rank. */
  private def atOrAbove(fp: Int, fu: String): org.apache.spark.sql.Column =
    col("priority") > fp ||
      (col("priority") === fp && col("uri") >= fu)

  private[graft] final case class HeadPtr(uuid: String, forBatch: Long,
      horizonBatch: Long, floor: Option[(Int, String)])

  private def b64e(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def b64d(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  private[graft] def readHeadPtr(stateRoot: String, name: String)
      : Option[HeadPtr] = {
    val f = Paths.get(stateRoot, name)
    if (!Files.exists(f)) None
    else {
      val p = Files.readString(f).trim.split('\t')
      val floor =
        if (p(3) == "-") None else Some((p(3).toInt, b64d(p(4))))
      Some(HeadPtr(p(0), p(1).toLong, p(2).toLong, floor))
    }
  }

  /** Atomically swap a head pointer and GC superseded head dirs. */
  private def writeHeadPtr(stateRoot: String, name: String,
      dataDir: String, ptr: HeadPtr): Unit = {
    val floorS = ptr.floor match {
      case Some((p, u)) => s"$p\t${b64e(u)}"
      case None         => "-"
    }
    val tmp = Paths.get(stateRoot, s".$name-${UUID.randomUUID()}")
    Files.writeString(tmp,
      s"${ptr.uuid}\t${ptr.forBatch}\t${ptr.horizonBatch}\t$floorS")
    Files.move(tmp, Paths.get(stateRoot, name),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    val dir = Paths.get(stateRoot, dataDir)
    if (Files.exists(dir)) {
      val l = Files.list(dir)
      try l.forEach { d =>
        if (d.getFileName.toString != ptr.uuid) deleteTree(d)
      } finally l.close()
    }
  }

  private def readHeadRows(spark: SparkSession, stateRoot: String,
      dataDir: String, uuid: String): DataFrame =
    spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(stateDdl))
      .parquet(s"$stateRoot/$dataDir/$uuid")

  /** Stage head rows + pointer for `forBatch`. The floor is the rank
    * of the K-th candidate (None when everything fit — the head is
    * complete); rows are everything at-or-above it, INCLUDING rank
    * ties beyond K (two frontier rows can share (priority, uri) — a
    * pending/visited twin — and cutting a tie would leave an outside
    * row tying the floor). */
  private def buildHead(stateRoot: String, dataDir: String,
      candidates: DataFrame, k: Int, forBatch: Long,
      horizonBatch: Long): Unit = Scope {
    // ONE scan of the candidate plan (a full-frontier read on rebuild
    // batches): cache it, derive the floor from a single ≤k-row
    // driver collect of the ranked top, write the filtered rows from
    // the cache, release. Without the cache this ran three jobs over
    // the full frontier per rebuild.
    val cand = Scope.cache(candidates)
    val top = cand.orderBy(desc("priority"), desc("uri")).limit(k)
      .select("priority", "uri").collect()
    // the floor is the LOWEST-ranked of the top K (the collect is
    // rank-ordered descending, so that is the last element)
    val floor: Option[(Int, String)] =
      if (top.length < k) None
      else top.lastOption.map(r => (r.getInt(0), r.getString(1)))
    val rows = floor match {
      case Some((fp, fu)) => cand.filter(atOrAbove(fp, fu))
      case None           => cand
    }
    val uuid = UUID.randomUUID().toString
    // repartition(1), not coalesce(1): a shuffle barrier keeps the
    // upstream frontier scan parallel — coalesce(1) would collapse
    // the very read the head exists to amortize into one task
    rows.repartition(1).write.parquet(s"$stateRoot/$dataDir/$uuid")
    writeHeadPtr(stateRoot, dataDir.toUpperCase, dataDir, // VHEAD/MHEAD
      HeadPtr(uuid, forBatch, horizonBatch, floor))
  }

  /** O(delta) head carry-forward: drop the touched partitions' rows,
    * re-add the touched partitions' post-batch candidates at-or-above
    * the existing floor. Floor and horizon are inherited. */
  private def updateHead(spark: SparkSession, stateRoot: String,
      dataDir: String, ptr: HeadPtr, touched: Seq[Int],
      newTouchedCandidates: DataFrame, forBatch: Long,
      statePartitions: Int): Unit = {
    val touchedSet = touched.toSet
    val old = readHeadRows(spark, stateRoot, dataDir, ptr.uuid)
      .filter(!spidOf(col("canonical"), statePartitions)
        .isin(touchedSet.toSeq: _*))
    val adds = ptr.floor match {
      case Some((fp, fu)) => newTouchedCandidates.filter(atOrAbove(fp, fu))
      case None           => newTouchedCandidates
    }
    val uuid = UUID.randomUUID().toString
    // repartition(1) for the same reason as buildHead: keep the
    // touched-partition read parallel, shuffle only the head rows
    old.unionByName(adds).repartition(1)
      .write.parquet(s"$stateRoot/$dataDir/$uuid")
    writeHeadPtr(stateRoot, dataDir.toUpperCase, dataDir,
      ptr.copy(uuid = uuid, forBatch = forBatch))
  }

  /** VHEAD candidate filter: potentially visitable any time up to
    * `horizonBatch` — wip-free and never visited, or stale by then.
    * A superset of visitables(now) for every claim in the window, so
    * rows crossing the revisit cutoff mid-window are already in. */
  private def potentialVisitable(horizonBatch: Long)
      : org.apache.spark.sql.Column = {
    val horizonCutoff = new Timestamp(batchTime(horizonBatch).getTime -
      Frontier.RevisitHours * 3600L * 1000L)
    col("wip_date").isNull && (col("last_visit_date").isNull ||
      col("last_visit_date") < lit(horizonCutoff))
  }

  // ---- cluster-global politeness (round-11 verdict item 7) ---------

  /** Per-host last-hit wall times persisted across batches, so the
    * politeness budget holds even when a host's task lands on a
    * DIFFERENT executor next batch (the per-JVM clock alone cannot
    * see a hit made elsewhere). Batch-bounded: one entry per host hit
    * within the last 10 delay budgets; wall-clock, advisory, and
    * deliberately outside the replay-deterministic state (sleeps
    * never change batch output). */
  private def readHostHits(stateRoot: String): Map[String, Long] = {
    val f = Paths.get(stateRoot, "HOSTS")
    if (!Files.exists(f)) Map.empty
    else Files.readString(f).linesIterator.flatMap { l =>
      l.split('\t') match {
        case Array(h, t) => Some(h -> t.toLong)
        case _           => None
      }
    }.toMap
  }

  private def writeHostHits(stateRoot: String, hits: Map[String, Long],
      hostDelayMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() -
      10L * math.max(hostDelayMs, 1000L)
    val live = hits.filter(_._2 >= cutoff)
    val tmp = Paths.get(stateRoot, s".hosts-${UUID.randomUUID()}")
    Files.writeString(tmp,
      live.toSeq.sorted.map { case (h, t) => s"$h\t$t" }.mkString("\n"))
    Files.move(tmp, Paths.get(stateRoot, "HOSTS"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The committed frontier state (empty frame before first commit). */
  def currentFrontier(spark: SparkSession, stateRoot: String): DataFrame = {
    val v = committedBatch(stateRoot)
    if (v < 0) emptyState(spark)
    else {
      val m = readManifest(stateRoot, v)
      if (m.isEmpty) emptyState(spark)
      else spark.read.schema(
          org.apache.spark.sql.types.StructType.fromDDL(stateDdl))
        .parquet(m.values.toSeq.sorted.map(p => s"$stateRoot/sdata/$p"): _*)
    }
  }

  /** Deterministic micro-batch timestamp: a fixed epoch plus one hour
    * per batch. Wall-clock `now` would break replay idempotence (a
    * re-run batch would stamp different visit dates); production picks
    * the batch's WAL timestamp, which is equally replay-stable. */
  def batchTime(batchId: Long): Timestamp =
    new Timestamp(1767225600000L + batchId * 3600L * 1000L) // 2026-01-01 UTC

  // ---- mapped-packages inbox -------------------------------------

  /** Compaction pointer for the mapped-packages inbox:
    * `<uuid>\t<uptoBatch>` — rows of batches ≤ upto live consolidated
    * in `pkgdata/<uuid>`, batches > upto in their per-batch
    * `packages/b=N` hive partitions. */
  private def pkgBase(stateRoot: String): Option[(String, Long)] = {
    val f = Paths.get(stateRoot, "PKGBASE")
    if (!Files.exists(f)) None
    else {
      val Array(u, b) = Files.readString(f).trim.split('\t')
      Some((u, b.toLong))
    }
  }

  private def livePkgDirs(stateRoot: String, above: Long): Seq[(Long, Path)] = {
    val p = Paths.get(stateRoot, "packages")
    if (!Files.exists(p)) return Seq.empty
    val l = Files.list(p)
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Path)]
      l.forEach { d =>
        val n = d.getFileName.toString
        if (n.startsWith("b=")) {
          val b = n.drop(2).toLong
          if (b > above) buf += ((b, d))
        }
      }
      buf.sortBy(_._1).toSeq
    } finally l.close()
  }

  /** Committed mapped-package rows (uri, package_data, b): the map
    * loop's output — the compacted base (batches ≤ the PKGBASE
    * watermark) plus one hive partition per later micro-batch,
    * filtered to batches at or below the commit pointer so a crashed
    * batch's half-written partition is invisible until its replay
    * commits. */
  def packages(spark: SparkSession, stateRoot: String): DataFrame = {
    val committed = committedBatch(stateRoot)
    val base = pkgBase(stateRoot)
    val upto = base.map(_._2).getOrElse(-1L)
    val live = livePkgDirs(stateRoot, upto)
    val legs = base.map { case (u, _) =>
      spark.read.parquet(s"$stateRoot/pkgdata/$u")
    }.toSeq ++ (
      if (live.isEmpty) Seq.empty
      // explicit schema: an all-empty partition set (a batch that
      // mapped nothing) must not fail inference
      else Seq(spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "uri STRING, package_data STRING, b BIGINT"))
        .option("basePath", s"$stateRoot/packages")
        .parquet(live.map(_._2.toString): _*)))
    val all = legs.map(_.select(col("uri"), col("package_data"),
      col("b").cast("long").as("b")))
    if (all.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "uri STRING, package_data STRING, b BIGINT"))
    else all.reduce(_.unionByName(_)).filter(col("b") <= committed)
  }

  /** Bound the inbox: consolidate every COMMITTED `packages/b=N`
    * partition into one `pkgdata/<uuid>` dir, atomically swap the
    * PKGBASE pointer, then drop the folded partitions and superseded
    * bases — [[packages]] returns the identical rows before and after
    * (FrontierStreamSpec), and an always-on stream holds a BOUNDED
    * directory count instead of one per batch forever (round-10
    * verdict item 2; the TAGFLOOR treatment for inbox data). A crash
    * anywhere here is safe: before the pointer swap the new base is
    * an unreferenced orphan (reaped by the next compaction); after
    * it, the stale partitions are invisible (`b > upto` filter) until
    * the next compaction deletes them. */
  def compactPackages(spark: SparkSession, stateRoot: String): Unit = {
    val upTo = committedBatch(stateRoot)
    if (upTo < 0) return
    val base = pkgBase(stateRoot)
    val prevUpto = base.map(_._2).getOrElse(-1L)
    val toFold = livePkgDirs(stateRoot, prevUpto).filter(_._1 <= upTo)
    if (toFold.isEmpty) return // nothing new below the pointer
    val rows = packages(spark, stateRoot) // committed view, b ≤ upTo
    val uuid = UUID.randomUUID().toString
    rows.write.parquet(s"$stateRoot/pkgdata/$uuid")
    val tmp = Paths.get(stateRoot, s".pkgbase-${UUID.randomUUID()}")
    Files.writeString(tmp, s"$uuid\t$upTo")
    Files.move(tmp, Paths.get(stateRoot, "PKGBASE"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    // folded partitions and superseded/orphaned bases are now
    // unreferenced — drop them
    toFold.foreach { case (_, d) => deleteTree(d) }
    val pkgRoot = Paths.get(stateRoot, "pkgdata")
    val l = Files.list(pkgRoot)
    try l.forEach { d =>
      if (d.getFileName.toString != uuid) deleteTree(d)
    } finally l.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))

  /** Apply one micro-batch: seeds in, one claim → visit → insert
    * cycle — and, when a `mapper` is supplied, one map cycle (the
    * reference runs run_visit and run_map as a worker PAIR; riding
    * both on one micro-batch keeps a single commit point) — state
    * committed O(delta). `preCommitHook` runs between the state write
    * and the pointer swap (test seam for the crash-mid-batch proof). */
  def processBatch(spark: SparkSession, seedBatch: DataFrame, batchId: Long,
      stateRoot: String, visitor: Frontier.Visitor, batchSize: Int,
      preCommitHook: Long => Unit = _ => (),
      mapper: Option[String => Seq[String]] = None,
      catalog: Option[CatalogSink] = None,
      hostDelayMs: Long = 0L,
      statePartitions: Int = StatePartitions,
      retainBatches: Int = 2,
      headSize: Int = 0): Unit = {
    val last = committedBatch(stateRoot)
    // replayed batches (≤ last) are already applied — skip. The
    // batch's cached frames are owned by its own region, so a
    // concurrent caller's caches and checkpoints survive it.
    if (batchId > last) Scope {
      Files.createDirectories(Paths.get(stateRoot))
      graft.catalog.TxLog.assertPartitions(Paths.get(stateRoot, "SPARTS"),
        statePartitions, s"frontier state root $stateRoot")
      val now = batchTime(batchId)

      // the seed inbox is control-plane, not data-plane: a micro-batch
      // carries the handful of operator-entered roots (the reference's
      // `seed` command reads them from a file into memory the same way,
      // seed.py:42-89) — collecting them is bounded by the seed file,
      // never by corpus size
      val seeds = seedBatch.select(col("value")).collect()
        .map(_.getString(0).trim).filter(u => u.nonEmpty && u != "tick")
        .toSeq.distinct

      val manifest = if (last < 0) Map.empty[Int, String]
        else readManifest(stateRoot, last)
      // LAZY: on a head-served batch the full frontier relation is
      // never built — not even its file listing (the claim/map heads
      // are the whole point: per-batch reads bounded by the batch, not
      // the frontier). Seed batches and head rebuilds force it.
      lazy val frontier = currentFrontier(spark, stateRoot)

      def seedInto(f: DataFrame): DataFrame =
        if (seeds.isEmpty) f
        else Frontier
          .insertSeedUris(Frontier.withRoutability(f), seeds, now)
          .drop("is_visitable", "is_mappable")

      // SELECTION: from the bounded visitable/mappable HEAD tables when
      // their pointers are valid for this batch (exact by the floor
      // invariant — see the head section above); from the full frontier
      // on seed batches, stale pointers, horizon expiry, or drain. The
      // claimed/yielded/map-batch frames are all batch-bounded either
      // way, and drive both the touched-partition probe and the
      // restricted recompute below.
      lazy val seededFull = seedInto(frontier)

      val vPtr = readHeadPtr(stateRoot, "VHEAD")
      val mPtr = readHeadPtr(stateRoot, "MHEAD")
      var vheadDrained = false
      var mheadDrained = false

      val headClaimed: Option[DataFrame] =
        if (seeds.nonEmpty) None
        else vPtr.filter(p => p.forBatch == last && batchId <= p.horizonBatch)
          .flatMap { p =>
            val head = readHeadRows(spark, stateRoot, "vhead", p.uuid)
            val picked = Scope.cache(Frontier.visitables(head, now)
              .orderBy(desc("priority"), desc("uri")).limit(batchSize))
            // a full batch's picks all rank at-or-above the floor, so
            // nothing outside the head can outrank them; a complete
            // head (no floor) is exact at any count. A short pick with
            // a floor means below-floor rows may belong in the claim —
            // fall back and rebuild.
            if (picked.count() >= batchSize || p.floor.isEmpty) Some(picked)
            else { vheadDrained = true; None }
          }
      val claimed = headClaimed
        .getOrElse(Scope.cache(Frontier.claim(seededFull, now, batchSize)))

      val prevHits =
        if (hostDelayMs > 0) readHostHits(stateRoot)
        else Map.empty[String, Long]
      val hitsAcc =
        if (hostDelayMs > 0)
          Some(spark.sparkContext
            .collectionAccumulator[(String, Long)]("graft.hostHits"))
        else None
      val yielded = Scope.cache(Frontier.expandClaims(spark, claimed,
        visitor, hostDelayMs, prevHits, hitsAcc))

      val mapBatch = mapper.map { _ =>
        def fullSelection() =
          // mappables excludes never-visited rows, so the selection over
          // the marked frontier equals the old full-cycle selection
          Scope.cache(Frontier.selectMapBatch(
            Frontier.markVisited(seededFull, claimed, now), batchSize))
        (if (seeds.nonEmpty) None else mPtr.filter(_.forBatch == last))
          .flatMap { p =>
            val mhead = readHeadRows(spark, stateRoot, "mhead", p.uuid)
            // rows this batch makes NEWLY mappable: claimed rows that
            // were not mappable before the visited mark (pre-mappable
            // claimed rows are already head members — or rank below the
            // floor, where the full selection could not pick them
            // either while the head serves a full batch)
            val preMappable = col("last_visit_date").isNotNull &&
              col("last_map_date").isNull && col("visit_error").isNull
            val newly0 = claimed.filter(!preMappable)
              .withColumn("last_visit_date", lit(now))
            val newly = p.floor match {
              case Some((fp, fu)) => newly0.filter(atOrAbove(fp, fu))
              case None           => newly0
            }
            val sel = Scope.cache(Frontier.selectMapBatch(
              Frontier.markVisited(mhead, claimed, now)
                .unionByName(newly), batchSize))
            if (sel.count() >= batchSize || p.floor.isEmpty) Some(sel)
            else { mheadDrained = true; None }
          }
          .getOrElse(fullSelection())
      }

      // touched partitions: every canonical this batch writes —
      // seeds (insert/revisit), claimed rows (visited mark), visitor
      // children (insert-if-absent), map batch (mapped mark). Bounded
      // by batchSize × fanout, never corpus size.
      val spark2 = spark
      import spark2.implicits._
      val touchedCanon = seeds.toDF("uri").select(lower(col("uri")).as("c"))
        .unionByName(claimed.select(col("canonical").as("c")))
        .unionByName(yielded.select(lower(col("uri")).as("c")))
        .unionByName(mapBatch.map(_.select(col("canonical").as("c")))
          .getOrElse(spark.emptyDataset[String].toDF("c")))
      val touched = touchedCanon
        .select(spidOf(col("c"), statePartitions).as("p"))
        .distinct().collect().map(_.getInt(0)).sorted.toSeq

      // restricted recompute: the SAME cycle against only the touched
      // partitions (exactness argued in the object scaladoc)
      val touchedPaths = partitionPaths(stateRoot, manifest, touched)
      val oldTouched =
        if (touchedPaths.isEmpty) emptyState(spark)
        else spark.read.schema(
            org.apache.spark.sql.types.StructType.fromDDL(stateDdl))
          .parquet(touchedPaths: _*)
      val subSeeded = seedInto(oldTouched)
      val afterVisit = Frontier.markVisited(subSeeded, claimed, now)
        .unionByName(Frontier.insertNewUris(subSeeded, yielded))
      val next = (mapper, mapBatch) match {
        case (Some(m), Some(batch)) =>
          val pkgs = Frontier.mapPackages(spark, batch, m)
          // batch-keyed overwrite = replay-idempotent; invisible to
          // readers until the commit pointer covers this batch
          pkgs.write.mode("overwrite")
            .parquet(s"$stateRoot/packages/b=$batchId")
          // the merge leg: feed this batch's mapped packages through the
          // O(delta) catalog commit, tagged with the batchId. Replay
          // idempotence needs the tag, not the frontier pointer: a crash
          // BETWEEN this merge and the pointer swap re-runs the whole
          // batch, and the watermark check is what keeps the catalog at
          // exactly one application (the uninterrupted twin's result,
          // FrontierStreamSpec). Reading the just-written parquet (not
          // re-running the pkgs plan) keeps the merged rows bit-
          // identical to the committed map output.
          catalog.foreach { sink =>
            if (graft.catalog.TxLog.maxTag(sink.root) < batchId) {
              val incoming = sink.toPackages(
                spark.read.parquet(s"$stateRoot/packages/b=$batchId"))
              graft.catalog.TxLog.mergeCommitDelta(spark, sink.root,
                incoming, now.toInstant.toString, sink.empty(),
                sink.partitions, tag = Some(batchId))
            }
            if (sink.vacuumEvery > 0 && batchId % sink.vacuumEvery == 0) {
              graft.catalog.TxLog.vacuum(sink.root, keep = 2,
                graceMs = sink.vacuumGraceMs)
              compactPackages(spark, stateRoot)
            }
          }
          Frontier.markMapped(afterVisit, batch, now)
        case _ => afterVisit
      }

      // stage ONLY the touched partitions to an immutable dir; the
      // manifest re-links every untouched partition from the previous
      // batch's manifest — the O(delta) write
      val dirName = UUID.randomUUID().toString
      next.withColumn("spid", spidOf(col("canonical"), statePartitions))
        .write.partitionBy("spid").parquet(s"$stateRoot/sdata/$dirName")
      val touchedEntries = touched.map(p => p -> s"$dirName/spid=$p")
      val nextManifest = manifest ++ touchedEntries
      writeManifest(stateRoot, batchId, touchedEntries, nextManifest)

      preCommitHook(batchId)
      val tmp = Paths.get(stateRoot, "COMMIT.tmp")
      Files.writeString(tmp, batchId.toString)
      Files.move(tmp, commitFile(stateRoot),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

      // ---- head maintenance (post-commit: a crash here skips the
      // batch on replay and the stale pointer forces a rebuild) -------
      val k = if (headSize > 0) headSize else headK(batchSize)
      def postState(): DataFrame =
        if (nextManifest.isEmpty) emptyState(spark)
        else spark.read.schema(
            org.apache.spark.sql.types.StructType.fromDDL(stateDdl))
          .parquet(nextManifest.values.toSeq.sorted
            .map(p => s"$stateRoot/sdata/$p"): _*)
      def newTouchedState(): DataFrame =
        if (touched.isEmpty) emptyState(spark)
        else spark.read.schema(
            org.apache.spark.sql.types.StructType.fromDDL(stateDdl))
          .parquet(partitionPaths(stateRoot, nextManifest, touched): _*)

      val vCarry = !seeds.nonEmpty && !vheadDrained &&
        vPtr.exists(p => p.forBatch == last && batchId + 1 <= p.horizonBatch)
      if (vCarry) {
        val p = vPtr.get
        if (touched.isEmpty) // nothing moved: re-point the same rows
          writeHeadPtr(stateRoot, "VHEAD", "vhead",
            p.copy(forBatch = batchId))
        else updateHead(spark, stateRoot, "vhead", p, touched,
          newTouchedState().filter(potentialVisitable(p.horizonBatch)),
          batchId, statePartitions)
      } else {
        val hb = batchId + HeadHorizonBatches
        buildHead(stateRoot, "vhead",
          postState().filter(potentialVisitable(hb)), k, batchId, hb)
      }
      mapper.foreach { _ =>
        val mCarry = !seeds.nonEmpty && !mheadDrained &&
          mPtr.exists(_.forBatch == last)
        if (mCarry) {
          val p = mPtr.get
          if (touched.isEmpty)
            writeHeadPtr(stateRoot, "MHEAD", "mhead",
              p.copy(forBatch = batchId))
          else updateHead(spark, stateRoot, "mhead", p, touched,
            Frontier.mappables(newTouchedState()), batchId,
            statePartitions)
        } else buildHead(stateRoot, "mhead",
          Frontier.mappables(postState()), k, batchId, Long.MaxValue)
      }

      // persist the batch's per-host last-hit walls for the NEXT
      // batch's politeness floor (cluster-global budget — the map is
      // ≤ one entry per host this batch touched). Max-merged, so a
      // cached-partition recompute double-reporting a hit is harmless.
      hitsAcc.foreach { acc =>
        import scala.jdk.CollectionConverters._
        val batchHits = acc.value.asScala
          .groupMapReduce(_._1)(_._2)(math.max)
        val merged = (prevHits.keySet ++ batchHits.keySet).map { h =>
          h -> math.max(prevHits.getOrElse(h, 0L),
            batchHits.getOrElse(h, 0L))
        }.toMap
        writeHostHits(stateRoot, merged, hostDelayMs)
      }

      // retention: the newest `retainBatches` committed manifests stay
      // resolvable (crash-window safety margin by default; raise it for
      // a frontierAt audit horizon) — with delta records that means
      // keeping the overlay CHAIN down to the newest checkpoint at or
      // below the oldest kept batch (≤ checkpoint cadence files,
      // bounded); older records, and any sdata dir referenced by no
      // kept RESOLUTION (superseded partition files, crashed replays'
      // orphaned staging), are dropped. Entries of intermediate chain
      // deltas superseded in every kept resolution are never served as
      // data paths, so their dirs are safe to drop even while the
      // chain records survive.
      val manifests = listManifests(stateRoot)
      val keepIds = manifests.map(_._1).filter(_ <= batchId)
        .take(math.max(retainBatches, 1))
      // the newest checkpoint at or below the oldest kept batch, BY
      // ARITHMETIC (ADVICE r11: the old scan re-read every retained
      // record per batch just to find the floor): checkpoints land
      // exactly at the ManifestCheckpointEvery cadence — batch 0
      // included — so the floor is the aligned multiple, no file reads
      val chainFloor =
        (keepIds.min / ManifestCheckpointEvery) * ManifestCheckpointEvery
      val liveDirs = keepIds.flatMap { b =>
        val m =
          if (b == batchId) nextManifest
          else if (b == last) manifest
          else readManifest(stateRoot, b)
        m.values.map(_.split('/').head)
      }.toSet
      manifests.foreach { case (v, p) =>
        if (v < chainFloor) Files.deleteIfExists(p)
      }
      val sdata = Paths.get(stateRoot, "sdata")
      if (Files.exists(sdata)) {
        val dl = Files.list(sdata)
        try {
          val it = dl.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (!liveDirs.contains(p.getFileName.toString)) deleteTree(p)
          }
        } finally dl.close()
      }
      // crash-orphaned dot-file temps (`.sv-*`, `.hosts-*`, pointer
      // swaps) older than the grace — the shared TxLog sweep; an
      // always-on stream in a crash loop must not accrete them
      graft.catalog.TxLog.sweepDotOrphans(Paths.get(stateRoot),
        System.currentTimeMillis() - OrphanGraceMs)
    }
  }

  /** Grace for the dot-file orphan sweep: a live temp is younger than
    * its writer's stage-to-swap latency. */
  private[graft] val OrphanGraceMs = 20L * 60 * 1000

  /** Time travel for the frontier (round-11 verdict item 8, the
    * catalog's `readDeltaAt` mirrored): the committed frontier at a
    * HISTORICAL batch. Only batches inside the retention window are
    * readable — `retainBatches` on [[processBatch]] is the audit
    * horizon knob (default 2: the crash-safety margin).
    *
    * Reader-margin contract (same as TxLog.vacuum's): the dir check
    * below closes the common failure cleanly, but the returned
    * DataFrame is LAZY — an audit read racing the live stream's
    * retention can still lose its files mid-scan if it reads at the
    * very edge of the window. Size `retainBatches` so audit reads
    * target batches with at least one batch of margin, or quiesce
    * the stream for edge reads. */
  def frontierAt(spark: SparkSession, stateRoot: String, batchId: Long)
      : DataFrame = {
    val ids = listManifests(stateRoot).map(_._1)
    require(ids.contains(batchId),
      s"batch $batchId is not in $stateRoot's retained window " +
        s"(have ${ids.sorted.mkString(",")}); processBatch's " +
        "retainBatches bounds how far back time travel reaches")
    val m = readManifest(stateRoot, batchId)
    // a chain record below the kept window resolves but its data dirs
    // may be swept (retention keeps chain RECORDS for overlaying the
    // kept deltas, data only for the kept resolutions) — refuse a
    // read whose dirs are gone rather than failing mid-scan
    val missing = m.values.map(_.split('/').head).toSet
      .filterNot(d => Files.exists(Paths.get(stateRoot, "sdata", d)))
    require(missing.isEmpty,
      s"batch $batchId's data was retired by retention " +
        s"(missing dirs: ${missing.mkString(",")}); raise " +
        "retainBatches for the audit horizon you need")
    if (m.isEmpty) emptyState(spark)
    else spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(stateDdl))
      .parquet(m.values.toSeq.sorted.map(p => s"$stateRoot/sdata/$p"): _*)
  }

  /** Start the always-on frontier job: text files dropped into
    * `seedDir` are seed URIs (one per line; the literal line "tick"
    * triggers a visit cycle without seeding — production replaces the
    * tick file with a rate-source union for continuous cycling). The
    * checkpoint carries the source WAL; the state commit pointer
    * carries the applied-batch high-water mark. */
  def start(spark: SparkSession, seedDir: String, stateRoot: String,
      checkpointDir: String, visitor: Frontier.Visitor,
      batchSize: Int = 10,
      preCommitHook: Long => Unit = _ => (),
      mapper: Option[String => Seq[String]] = None,
      catalog: Option[CatalogSink] = None,
      hostDelayMs: Long = 0L,
      statePartitions: Int = StatePartitions,
      retainBatches: Int = 2,
      headSize: Int = 0): StreamingQuery = {
    Files.createDirectories(Paths.get(stateRoot))
    spark.readStream
      .option("maxFilesPerTrigger", 1) // one inbox file = one cycle
      .text(seedDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, stateRoot, visitor,
          batchSize, preCommitHook, mapper, catalog, hostDelayMs,
          statePartitions, retainBatches, headSize)
      }
      .start()
  }

  /** The ALWAYS-ON variant (round-9 "what's missing" #2): the seed
    * inbox unioned with a rate source, so visit cycles run
    * continuously WITHOUT an operator dropping tick files — the
    * reference's forever-loop (`run_visit.py:143-227` re-polls the
    * queue after every batch). Every rate row collapses to the same
    * control-plane "tick" line and [[processBatch]] deduplicates the
    * seed list, so a micro-batch carrying 40 rate rows still runs
    * exactly one claim-visit-insert cycle; seeds dropped into the
    * inbox ride whichever batch picks them up. State, commit pointer,
    * replay skip, and the catalog merge leg are identical to
    * [[start]] — the trigger is the only difference, which is the
    * point: cadence is config, not architecture. */
  def startContinuous(spark: SparkSession, seedDir: String,
      stateRoot: String, checkpointDir: String,
      visitor: Frontier.Visitor, batchSize: Int = 10,
      ticksPerSecond: Int = 2,
      mapper: Option[String => Seq[String]] = None,
      catalog: Option[CatalogSink] = None,
      hostDelayMs: Long = 0L,
      retainBatches: Int = 2,
      headSize: Int = 0): StreamingQuery = {
    Files.createDirectories(Paths.get(stateRoot))
    val seeds = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(seedDir)
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", ticksPerSecond).load()
      .select(org.apache.spark.sql.functions.lit("tick").as("value"))
    seeds.unionByName(ticks)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, stateRoot, visitor,
          batchSize, mapper = mapper, catalog = catalog,
          hostDelayMs = hostDelayMs, retainBatches = retainBatches,
          headSize = headSize)
      }
      .start()
  }
}
