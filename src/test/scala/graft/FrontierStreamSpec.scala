package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.{Frontier, FrontierStream}
import org.apache.spark.sql.streaming.StreamingQueryException

/** ST1 as a REAL Structured Streaming job: the frontier visit loop
  * running under readStream + foreachBatch with a checkpointed source
  * WAL and an atomically-committed parquet state table — and the
  * kill-mid-batch restart proof that the (canonical, last_visit_date)
  * identity survives a crash between the state write and the commit
  * pointer swap.
  */
class FrontierStreamSpec extends SparkTestBase {

  // deterministic, serializable: an index page yields two children;
  // routable shapes so insertSeedUris' flag computation sees real URIs
  private val visitor: Frontier.Visitor = uri =>
    if (uri.endsWith("/index"))
      Seq(uri.stripSuffix("/index") + "/pkg-a", uri.stripSuffix("/index") + "/pkg-b")
    else Seq.empty

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def seedFile(dir: String, name: String, lines: Seq[String]): Unit = {
    val t = java.nio.file.Paths.get(dir, s".$name.tmp")
    Files.writeString(t, lines.mkString("\n"))
    Files.move(t, java.nio.file.Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def frontierKey(stateRoot: String) =
    FrontierStream.currentFrontier(spark, stateRoot)
      .select("uri", "canonical", "priority", "last_visit_date")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        Option(r.getTimestamp(3)).map(_.getTime)))
      .sortBy(t => (t._1, t._4))
      .toSeq

  test("frontier runs as a checkpointed readStream/foreachBatch job") {
    val seedDir = tmp("fs-seed")
    val stateRoot = tmp("fs-state")
    val chk = tmp("fs-chk")
    val seeds = Seq("https://registry.npmjs.org/index")

    seedFile(seedDir, "seeds.txt", seeds)
    val q = FrontierStream.start(spark, seedDir, stateRoot, chk, visitor)
    try {
      q.processAllAvailable()
      // batch 0: seed inserted AND visited (claim picks it up in the
      // same cycle), children pending
      val s1 = FrontierStream.currentFrontier(spark, stateRoot)
      val visited = s1.filter("last_visit_date IS NOT NULL")
        .select("uri").collect().map(_.getString(0)).toSet
      assert(visited == seeds.toSet, s"visited after batch 0: $visited")
      val pending = s1.filter("last_visit_date IS NULL")
        .select("uri").collect().map(_.getString(0)).toSet
      assert(pending == Set("https://registry.npmjs.org/pkg-a",
        "https://registry.npmjs.org/pkg-b"), s"pending: $pending")

      // a tick file drives the NEXT cycle: children get visited
      seedFile(seedDir, "tick1.txt", Seq("tick"))
      q.processAllAvailable()
      val s2 = FrontierStream.currentFrontier(spark, stateRoot)
      assert(s2.filter("last_visit_date IS NULL").count() == 0,
        "children still pending after second cycle")
      // visit dates are batch-deterministic, not wall clock
      val dates = s2.select("last_visit_date").collect()
        .map(_.getTimestamp(0)).toSet
      assert(dates == Set(FrontierStream.batchTime(0),
        FrontierStream.batchTime(1)), s"dates: $dates")
    } finally q.stop()

    // input that lands while the job is DOWN is picked up on restart
    // from the same checkpoint (source WAL), not lost
    seedFile(seedDir, "seeds2.txt", Seq("https://pypi.org/index"))
    val q2 = FrontierStream.start(spark, seedDir, stateRoot, chk, visitor)
    try {
      q2.processAllAvailable()
      val s3 = FrontierStream.currentFrontier(spark, stateRoot)
      assert(s3.filter("uri = 'https://pypi.org/index'")
        .filter("last_visit_date IS NOT NULL").count() == 1,
        "post-restart seed not visited")
    } finally q2.stop()
  }

  test("map loop rides the micro-batch; packages exactly-once across " +
      "stop/restart") {
    val seedDir = tmp("fm-seed")
    val stateRoot = tmp("fm-state")
    val chk = tmp("fm-chk")
    val mapper: String => Seq[String] = uri => Seq("pkg::" + uri)

    seedFile(seedDir, "seeds.txt", Seq("https://registry.npmjs.org/index"))
    val q = FrontierStream.start(spark, seedDir, stateRoot, chk, visitor,
      mapper = Some(mapper))
    try {
      q.processAllAvailable()
      // batch 0: seed visited AND mapped in the same cycle
      val p0 = FrontierStream.packages(spark, stateRoot)
        .select("uri", "package_data").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(p0 == Set(("https://registry.npmjs.org/index",
        "pkg::https://registry.npmjs.org/index")), s"packages: $p0")

      seedFile(seedDir, "tick1.txt", Seq("tick"))
      q.processAllAvailable()
      val p1 = FrontierStream.packages(spark, stateRoot)
        .select("uri").collect().map(_.getString(0)).toSeq
      assert(p1.size == 3 && p1.distinct.size == 3,
        s"expected 3 distinct mapped uris, got $p1")
    } finally q.stop()

    // restart: a new seed maps exactly once, old packages not re-emitted
    seedFile(seedDir, "seeds2.txt", Seq("https://pypi.org/index"))
    val q2 = FrontierStream.start(spark, seedDir, stateRoot, chk, visitor,
      mapper = Some(mapper))
    try {
      q2.processAllAvailable()
      val p2 = FrontierStream.packages(spark, stateRoot)
        .select("uri").collect().map(_.getString(0)).toSeq
      assert(p2.size == p2.distinct.size, s"duplicate packages: $p2")
      assert(p2.count(_ == "https://pypi.org/index") == 1)
      // frontier map-state agrees: every successfully visited row is
      // mapped, none twice
      val fr = FrontierStream.currentFrontier(spark, stateRoot)
      assert(fr.filter("last_visit_date IS NOT NULL AND " +
        "last_map_date IS NULL").count() == 0,
        "visited-but-unmapped rows remain")
    } finally q2.stop()
  }

  test("kill between state write and commit: replay restores the exact " +
      "(canonical, last_visit_date) identity of an uninterrupted run") {
    val seeds = Seq("https://registry.npmjs.org/index",
      "https://crates.io/index")

    // twin A: uninterrupted
    val (seedA, stateA, chkA) = (tmp("fsA-seed"), tmp("fsA-state"), tmp("fsA-chk"))
    seedFile(seedA, "seeds.txt", seeds)
    val qa = FrontierStream.start(spark, seedA, stateA, chkA, visitor)
    try {
      qa.processAllAvailable()
      seedFile(seedA, "tick1.txt", Seq("tick"))
      qa.processAllAvailable()
    } finally qa.stop()

    // twin B: crashes in batch 1 AFTER the state write, BEFORE the
    // commit pointer swap — the worst crash window
    val (seedB, stateB, chkB) = (tmp("fsB-seed"), tmp("fsB-state"), tmp("fsB-chk"))
    seedFile(seedB, "seeds.txt", seeds)
    FrontierStreamSpec.armed.set(true)
    val crashHook: Long => Unit = { id =>
      if (id == 1 && FrontierStreamSpec.armed.getAndSet(false))
        throw new RuntimeException("injected crash before commit")
    }
    val qb1 = FrontierStream.start(spark, seedB, stateB, chkB, visitor,
      preCommitHook = crashHook)
    try {
      qb1.processAllAvailable() // batch 0 commits
      seedFile(seedB, "tick1.txt", Seq("tick"))
      intercept[StreamingQueryException] {
        qb1.processAllAvailable()
        qb1.awaitTermination()
      }
    } finally qb1.stop()
    // crash landed where intended: batch 1's state manifest written,
    // pointer still at 0
    assert(FrontierStream.committedBatch(stateB) == 0L,
      "crash did not land in the intended window")
    assert(Files.exists(java.nio.file.Paths.get(stateB, "sv=1")),
      "state manifest for batch 1 was not written before the crash")

    // restart on the same checkpoint: batch 1 re-delivers from the WAL,
    // overwrites v=1 deterministically, commits
    val qb2 = FrontierStream.start(spark, seedB, stateB, chkB, visitor,
      preCommitHook = crashHook)
    try qb2.processAllAvailable() finally qb2.stop()
    assert(FrontierStream.committedBatch(stateB) == 1L)

    val a = frontierKey(stateA)
    val b = frontierKey(stateB)
    assert(a == b,
      s"crash+replay diverged from uninterrupted run:\nA=$a\nB=$b")
    assert(a.nonEmpty && a.forall(_._4.isDefined),
      "twin run did not fully visit its frontier")
  }

  // round-10 verdict item 3: visit → map → MERGE as one replay-safe
  // loop — the catalog commit rides the micro-batch through the
  // O(delta) TxLog, tagged with the batchId

  private def emptyCatalog = {
    import spark.implicits._
    Seq.empty[graft.catalog.PackageRow].toDF()
  }

  private def catalogSink(root: String): FrontierStream.CatalogSink = {
    import spark.implicits._
    FrontierStream.CatalogSink(
      root,
      df => df.select("uri", "package_data").as[(String, String)]
        .map { case (uri, pd) =>
          graft.catalog.PackageRow.minimal(uri, "maven",
            pd.stripPrefix("pkg::"), Some("1.0"), miningLevel = 50)
        }
        .toDF()
        .withColumn("visit_level", org.apache.spark.sql.functions.lit(50)),
      () => emptyCatalog)
  }

  private def catalogRows(root: String): Seq[String] =
    graft.catalog.TxLog.readDelta(spark, root, emptyCatalog)._2
      .toJSON.collect().sorted.toSeq

  test("catalog merge rides the micro-batch: a crash between the merge " +
      "and the pointer swap replays to the uninterrupted twin's catalog") {
    val mapper: String => Seq[String] = uri => Seq("pkg::" + uri)
    val seeds = Seq("https://registry.npmjs.org/index")

    // twin A: uninterrupted visit→map→merge cycles
    val (seedA, stateA, chkA, catA) =
      (tmp("fcA-seed"), tmp("fcA-state"), tmp("fcA-chk"), tmp("fcA-cat"))
    seedFile(seedA, "seeds.txt", seeds)
    val qa = FrontierStream.start(spark, seedA, stateA, chkA, visitor,
      mapper = Some(mapper), catalog = Some(catalogSink(catA)))
    try {
      qa.processAllAvailable()
      seedFile(seedA, "tick1.txt", Seq("tick"))
      qa.processAllAvailable()
    } finally qa.stop()

    // twin B: crashes in batch 1 AFTER the catalog merge landed but
    // BEFORE the frontier pointer swap — the window where a naive
    // replay would merge the same packages twice
    val (seedB, stateB, chkB, catB) =
      (tmp("fcB-seed"), tmp("fcB-state"), tmp("fcB-chk"), tmp("fcB-cat"))
    seedFile(seedB, "seeds.txt", seeds)
    FrontierStreamSpec.armed.set(true)
    val crashHook: Long => Unit = { id =>
      if (id == 1 && FrontierStreamSpec.armed.getAndSet(false))
        throw new RuntimeException("injected crash before commit")
    }
    val qb1 = FrontierStream.start(spark, seedB, stateB, chkB, visitor,
      preCommitHook = crashHook, mapper = Some(mapper),
      catalog = Some(catalogSink(catB)))
    try {
      qb1.processAllAvailable()
      seedFile(seedB, "tick1.txt", Seq("tick"))
      intercept[StreamingQueryException] {
        qb1.processAllAvailable()
        qb1.awaitTermination()
      }
    } finally qb1.stop()
    // the crash landed in the intended window: pointer still at 0,
    // but batch 1's MERGE already committed (watermark = 1)
    assert(FrontierStream.committedBatch(stateB) == 0L,
      "crash did not land in the intended window")
    assert(graft.catalog.TxLog.maxTag(catB) == 1L,
      "batch 1's merge should have landed before the crash point")

    // restart: batch 1 replays, the tag watermark skips the merge,
    // the pointer swap completes
    val qb2 = FrontierStream.start(spark, seedB, stateB, chkB, visitor,
      preCommitHook = crashHook, mapper = Some(mapper),
      catalog = Some(catalogSink(catB)))
    try qb2.processAllAvailable() finally qb2.stop()
    assert(FrontierStream.committedBatch(stateB) == 1L)

    // final catalogs bit-for-bit identical (includes history
    // timestamps — batch-deterministic time, single application)
    val a = catalogRows(catA)
    val b = catalogRows(catB)
    assert(a.nonEmpty, "twin catalogs empty — the merge leg did not run")
    assert(a == b, s"crash+replay catalog diverged:\nA=$a\nB=$b")
  }

  test("in-loop vacuum keeps sink metadata bounded without changing " +
      "the merged catalog or the replay watermark") {
    val mapper: String => Seq[String] = uri => Seq("pkg::" + uri)
    val seeds = Seq("https://registry.npmjs.org/index")

    // twin A: no in-loop vacuum (the reference catalog)
    val (seedA, stateA, chkA, catA) =
      (tmp("fvA-seed"), tmp("fvA-state"), tmp("fvA-chk"), tmp("fvA-cat"))
    seedFile(seedA, "seeds.txt", seeds)
    val qa = FrontierStream.start(spark, seedA, stateA, chkA, visitor,
      mapper = Some(mapper), catalog = Some(catalogSink(catA)))
    try {
      qa.processAllAvailable()
      (1 to 3).foreach { i =>
        seedFile(seedA, s"tick$i.txt", Seq("tick"))
        qa.processAllAvailable()
      }
    } finally qa.stop()

    // twin B: vacuum rides every batch (exclusive owner → grace 0)
    val (seedB, stateB, chkB, catB) =
      (tmp("fvB-seed"), tmp("fvB-state"), tmp("fvB-chk"), tmp("fvB-cat"))
    seedFile(seedB, "seeds.txt", seeds)
    val qb = FrontierStream.start(spark, seedB, stateB, chkB, visitor,
      mapper = Some(mapper),
      catalog = Some(catalogSink(catB).copy(
        vacuumEvery = 1, vacuumGraceMs = 0L)))
    try {
      qb.processAllAvailable()
      (1 to 3).foreach { i =>
        seedFile(seedB, s"tick$i.txt", Seq("tick"))
        qb.processAllAvailable()
      }
    } finally qb.stop()

    // same catalog bit-for-bit, same watermark
    assert(catalogRows(catB) == catalogRows(catA))
    assert(graft.catalog.TxLog.maxTag(catB) ==
      graft.catalog.TxLog.maxTag(catA))
    // but B's metadata is bounded by the keep window while A grew
    // one commit record per batch
    def commitCount(root: String): Long = {
      val l = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, "_commits"))
      try l.filter(_.getFileName.toString.startsWith("v")).count()
      finally l.close()
    }
    assert(commitCount(catA) == 4L, s"A: ${commitCount(catA)}")
    assert(commitCount(catB) == 2L, s"B: ${commitCount(catB)}")
  }

  // round-11: O(delta) frontier state — a micro-batch stages only the
  // partitions its claims/inserts/marks touch, and re-links the rest

  test("a micro-batch stages only its touched state partitions and " +
      "re-links the rest (O(delta) frontier commits)") {
    val stateRoot = tmp("fd-state")
    // resolved view (overlay chain) — the record itself is O(touched)
    def manifest(b: Long): Map[Int, String] =
      FrontierStream.readManifest(stateRoot, b)
    import spark.implicits._
    // batch 0: a wide seed load populates many partitions
    val seeds = (0 until 300).map(i => s"https://registry.npmjs.org/seed-$i")
    FrontierStream.processBatch(spark, seeds.toDF("value"), 0L, stateRoot,
      _ => Seq.empty, batchSize = 4)
    val m0 = manifest(0L)
    assert(m0.size > 32, s"seed load should span partitions: ${m0.size}")

    // batch 1: a 4-row claim — only the claimed rows' partitions (and
    // nothing else: no children, no seeds) may be rewritten
    FrontierStream.processBatch(spark, Seq("tick").toDF("value"), 1L,
      stateRoot, _ => Seq.empty, batchSize = 4)
    val m1 = manifest(1L)
    val changed = m1.filter { case (p, d) => !m0.get(p).contains(d) }
    assert(changed.nonEmpty && changed.size <= 4,
      s"expected <=4 rewritten partitions, got ${changed.size}")
    assert((m1 -- changed.keys) == (m0 -- changed.keys),
      "untouched partitions must re-link the previous batch's files")
    // ... and the manifest RECORD is O(touched) too: a #delta naming
    // only the rewritten partitions, not the full pid → path map (at
    // the 100 TB sizing, ~1e5 partitions, a full map per micro-batch
    // is a multi-MB driver-side write — the TxLog Delta-log shape)
    val rec1 = Files.readString(
      java.nio.file.Paths.get(stateRoot, "sv=1"))
    assert(rec1.linesIterator.next() == "#delta",
      s"batch 1's record must be a delta, got: ${rec1.take(40)}")
    assert(rec1.linesIterator.count(_.contains('\t')) == changed.size,
      "delta record must carry exactly the touched partitions")
    // and the re-linked + rewritten union is the correct next state
    val s1 = FrontierStream.currentFrontier(spark, stateRoot)
    assert(s1.count() == 300)
    assert(s1.filter("last_visit_date IS NOT NULL").count() == 8,
      "4 claims per batch over 2 batches")
  }

  test("manifest chain retention: an always-on stream holds a bounded " +
      "sv-record count and resolves correctly across checkpoints") {
    val stateRoot = tmp("fc-state")
    import spark.implicits._
    val seeds = (0 until 40).map(i => s"https://registry.npmjs.org/c-$i")
    FrontierStream.processBatch(spark, seeds.toDF("value"), 0L, stateRoot,
      _ => Seq.empty, batchSize = 2)
    // drive past one checkpoint boundary (cadence 16) plus margin
    (1L to 20L).foreach { b =>
      FrontierStream.processBatch(spark, Seq("tick").toDF("value"), b,
        stateRoot, _ => Seq.empty, batchSize = 2)
    }
    def svIds(): Seq[Long] = {
      val l = Files.list(java.nio.file.Paths.get(stateRoot))
      try {
        val b = scala.collection.mutable.ArrayBuffer.empty[Long]
        l.forEach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("sv=")) b += n.drop(3).toLong
        }
        b.sorted.toSeq
      } finally l.close()
    }
    val ids = svIds()
    // the retained suffix reaches down exactly to the newest
    // checkpoint at or below batch 19 (= 16), never further — the
    // chain is bounded by the cadence, not the stream's lifetime
    assert(ids.head == 16L && ids.last == 20L,
      s"expected chain [16..20], got $ids")
    // batch 16's record is the checkpoint the chain resolves through
    val rec16 = Files.readString(
      java.nio.file.Paths.get(stateRoot, "sv=16"))
    assert(rec16.linesIterator.next() == "#manifest")
    // resolution across the checkpoint is still the correct state
    val s = FrontierStream.currentFrontier(spark, stateRoot)
    assert(s.count() == 40)
    assert(s.filter("last_visit_date IS NOT NULL").count() == 40,
      "2 claims x 21 batches covers all 40 rows")
  }

  test("politeness: consecutive micro-batches respect the per-host " +
      "delay budget across the batch boundary") {
    val stateRoot = tmp("fp-state")
    Frontier.hostLastHit.clear()
    FrontierStreamSpec.hits.clear()
    val recordingVisitor: Frontier.Visitor = uri => {
      FrontierStreamSpec.hits.add(
        (uri, System.currentTimeMillis()))
      Seq.empty
    }
    import spark.implicits._
    // two same-host uris, claimed one per batch (batchSize = 1). The
    // budget must EXCEED the natural inter-batch latency (~1-3 s of
    // Spark job overhead) or the pin would pass without any
    // cross-batch state — 6 s is comfortably above it.
    val seeds = Seq("https://registry.npmjs.org/pkg-a",
      "https://registry.npmjs.org/pkg-b")
    FrontierStream.processBatch(spark, seeds.toDF("value"), 0L, stateRoot,
      recordingVisitor, batchSize = 1, hostDelayMs = 6000L)
    FrontierStream.processBatch(spark, Seq("tick").toDF("value"), 1L,
      stateRoot, recordingVisitor, batchSize = 1, hostDelayMs = 6000L)
    val times = FrontierStreamSpec.hits.toArray(
      Array.empty[(String, Long)]).sortBy(_._2)
    assert(times.length == 2, s"expected 2 visits, got ${times.toSeq}")
    val gap = times(1)._2 - times(0)._2
    assert(gap >= 5500L, // scheduling slack on the 6 s budget
      s"same-host visits in consecutive batches ${gap}ms apart " +
        "(politeness must survive the micro-batch boundary)")
  }

  test("inbox compaction bounds the mapped-packages directories " +
      "without changing what packages() returns") {
    val mapper: String => Seq[String] = uri => Seq("pkg::" + uri)
    val (seedDir, stateRoot, chk, cat) =
      (tmp("fcmp-seed"), tmp("fcmp-state"), tmp("fcmp-chk"), tmp("fcmp-cat"))
    seedFile(seedDir, "seeds.txt",
      (0 until 6).map(i => s"https://registry.npmjs.org/solo-$i"))
    val q = FrontierStream.start(spark, seedDir, stateRoot, chk, visitor,
      batchSize = 2, mapper = Some(mapper),
      catalog = Some(catalogSink(cat).copy(
        vacuumEvery = 2, vacuumGraceMs = 0L)))
    try {
      q.processAllAvailable()
      (1 to 4).foreach { i =>
        seedFile(seedDir, s"tick$i.txt", Seq("tick"))
        q.processAllAvailable()
      }
    } finally q.stop()
    // 5 batches ran; compaction folded the committed partitions into
    // ONE base dir + at most vacuumEvery live partitions
    def dirCount(sub: String): Long = {
      val p = java.nio.file.Paths.get(stateRoot, sub)
      if (!Files.exists(p)) return 0L
      val l = Files.list(p)
      try l.count() finally l.close()
    }
    assert(dirCount("pkgdata") == 1L,
      "superseded compaction bases must be dropped")
    assert(dirCount("packages") <= 2L,
      s"live per-batch partitions should be bounded by the compaction " +
        s"cadence, got ${dirCount("packages")}")
    // content proof: packages() equals the per-frontier map state —
    // every successfully visited row mapped exactly once
    val got = FrontierStream.packages(spark, stateRoot)
      .select("uri").collect().map(_.getString(0)).toSeq
    assert(got.size == got.distinct.size, s"duplicates after compaction: $got")
    val mappedRows = FrontierStream.currentFrontier(spark, stateRoot)
      .filter("last_map_date IS NOT NULL")
      .select("uri").collect().map(_.getString(0)).toSet
    assert(got.toSet == mappedRows,
      s"packages() diverged from the frontier map state:\n" +
        s"packages=$got\nfrontier=$mappedRows")
  }

  // ---- bounded claim heads (round-11 verdict item 1) --------------

  test("head-served steady-state claims equal the full-scan fold " +
      "exactly, with the floor path exercised") {
    val stateRoot = tmp("fh-state")
    import spark.implicits._
    // 400 seeds > the 256-row head minimum at batchSize 5, so the
    // rebuilt head carries a FLOOR and every tick batch claims from
    // the bounded head, not a complete copy
    val seeds = (0 until 400).map(i => f"https://registry.npmjs.org/h$i%03d")
    FrontierStream.processBatch(spark, seeds.toDF("value"), 0L, stateRoot,
      visitor, batchSize = 5)
    (1L to 6L).foreach { b =>
      FrontierStream.processBatch(spark, Seq("tick").toDF("value"), b,
        stateRoot, visitor, batchSize = 5)
    }
    // the head is live (maintained through batch 6) and bounded (has
    // a floor — the claims above came from the head, not a full copy)
    val ptr = FrontierStream.readHeadPtr(stateRoot, "VHEAD")
    assert(ptr.exists(_.forBatch == 6L), s"VHEAD not maintained: $ptr")
    assert(ptr.exists(_.floor.isDefined),
      "400 candidates over a 256-row head must carry a floor")

    // pure-batch oracle: the same seed + 6 tick cycles folded through
    // the Frontier API with the full frontier in memory every step
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("uri", "canonical", "priority", "last_visit_date")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        Option(r.getTimestamp(3)).map(_.getTime)))
      .sortBy(t => (t._1, t._4)).toSeq
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        FrontierStream.stateDdl))
    var oracle = Frontier.insertSeedUris(
      Frontier.withRoutability(empty), seeds,
      FrontierStream.batchTime(0L))
      .drop("is_visitable", "is_mappable")
    oracle = Frontier.visitCycle(spark, oracle, visitor,
      FrontierStream.batchTime(0L), batchSize = 5).localCheckpoint()
    (1L to 6L).foreach { b =>
      oracle = Frontier.visitCycle(spark, oracle, visitor,
        FrontierStream.batchTime(b), batchSize = 5).localCheckpoint()
    }
    assert(key(FrontierStream.currentFrontier(spark, stateRoot)) ==
      key(oracle),
      "head-served claims diverged from the full-scan fold")
  }

  test("a drained head falls back to the full scan, rebuilds, and " +
      "keeps claims exact through the transition") {
    val stateRoot = tmp("fdr-state")
    import spark.implicits._
    // headSize=16 with batchSize=8: two head-served batches exhaust
    // the head's visitables, the third DRAINS (0 < 8 with a floor),
    // full-scans, rebuilds, and the fourth serves from the new head
    val seeds = (0 until 400).map(i => f"https://registry.npmjs.org/r$i%03d")
    FrontierStream.processBatch(spark, seeds.toDF("value"), 0L, stateRoot,
      _ => Seq.empty, batchSize = 8, headSize = 16)
    (1L to 4L).foreach { b =>
      FrontierStream.processBatch(spark, Seq("tick").toDF("value"), b,
        stateRoot, _ => Seq.empty, batchSize = 8, headSize = 16)
    }
    // the drain at batch 3 rebuilt the head: its horizon restarts
    // from 3, not from the batch-0 rebuild
    val ptr = FrontierStream.readHeadPtr(stateRoot, "VHEAD")
    assert(ptr.exists(_.horizonBatch ==
      3L + FrontierStream.HeadHorizonBatches),
      s"expected a drain-rebuild at batch 3, got $ptr")
    // claims stayed exact through drain + rebuild: 8 × 5 batches of
    // the 400 seeds are visited, and they are exactly the top-40 by
    // the (-priority, -uri) queue order (all seeds share priority)
    val visited = FrontierStream.currentFrontier(spark, stateRoot)
      .filter("last_visit_date IS NOT NULL")
      .select("uri").collect().map(_.getString(0)).sorted.toSeq
    assert(visited == seeds.sorted.takeRight(40),
      s"drain transition mis-claimed: got ${visited.take(5)}...")
  }

  test("frontierAt reads historical batches inside retainBatches and " +
      "throws the retention error past it") {
    val stateRoot = tmp("ft-state")
    import spark.implicits._
    val seeds = (0 until 30).map(i => s"https://registry.npmjs.org/t-$i")
    FrontierStream.processBatch(spark, seeds.toDF("value"), 0L, stateRoot,
      _ => Seq.empty, batchSize = 2, retainBatches = 4)
    var captured = Map.empty[Long, Seq[String]]
    def visitedKey(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .filter("last_visit_date IS NOT NULL")
      .select("canonical").collect().map(_.getString(0)).sorted.toSeq
    (1L to 20L).foreach { b =>
      FrontierStream.processBatch(spark, Seq("tick").toDF("value"), b,
        stateRoot, _ => Seq.empty, batchSize = 2, retainBatches = 4)
      if (b >= 17L) captured += b ->
        visitedKey(FrontierStream.currentFrontier(spark, stateRoot))
    }
    // the kept window (17..20) reads back exactly
    (17L to 20L).foreach { b =>
      assert(visitedKey(FrontierStream.frontierAt(spark, stateRoot, b))
        == captured(b), s"frontierAt($b) diverged from the capture")
    }
    // a pruned batch throws the retention error, like the catalog
    val e = intercept[IllegalArgumentException] {
      FrontierStream.frontierAt(spark, stateRoot, 10L)
    }
    assert(e.getMessage.contains("retained window"), e.getMessage)
  }

  test("politeness holds when the next batch's host lands on a " +
      "DIFFERENT executor (per-JVM clock cleared; HOSTS sidecar " +
      "carries the budget)") {
    val stateRoot = tmp("fg-state")
    Frontier.hostLastHit.clear()
    FrontierStreamSpec.hits.clear()
    val recordingVisitor: Frontier.Visitor = uri => {
      FrontierStreamSpec.hits.add((uri, System.currentTimeMillis()))
      Seq.empty
    }
    import spark.implicits._
    val seeds = Seq("https://registry.npmjs.org/pkg-a",
      "https://registry.npmjs.org/pkg-b")
    FrontierStream.processBatch(spark, seeds.toDF("value"), 0L, stateRoot,
      recordingVisitor, batchSize = 1, hostDelayMs = 6000L)
    // simulate the host's next task landing on a fresh executor JVM:
    // the in-memory clock is gone; only the persisted HOSTS sidecar
    // can enforce the budget
    Frontier.hostLastHit.clear()
    FrontierStream.processBatch(spark, Seq("tick").toDF("value"), 1L,
      stateRoot, recordingVisitor, batchSize = 1, hostDelayMs = 6000L)
    val times = FrontierStreamSpec.hits.toArray(
      Array.empty[(String, Long)]).sortBy(_._2)
    assert(times.length == 2, s"expected 2 visits, got ${times.toSeq}")
    val gap = times(1)._2 - times(0)._2
    assert(gap >= 5500L,
      s"same-host visits ${gap}ms apart across a simulated executor " +
        "change (the HOSTS sidecar must make the budget cluster-global)")
  }

  test("the in-loop retention sweeps crash-orphaned dot-files past " +
      "the grace and spares fresh in-flight temps") {
    val stateRoot = tmp("fo-state")
    import spark.implicits._
    FrontierStream.processBatch(spark,
      Seq("https://registry.npmjs.org/index").toDF("value"), 0L,
      stateRoot, visitor, batchSize = 2)
    val p = java.nio.file.Paths.get(stateRoot)
    val oldSv = p.resolve(".sv-dead-writer")
    val oldHosts = p.resolve(".hosts-dead-writer")
    val freshSv = p.resolve(".sv-in-flight")
    Seq(oldSv, oldHosts, freshSv).foreach(Files.writeString(_, "x"))
    val past = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - FrontierStream.OrphanGraceMs - 60000)
    Seq(oldSv, oldHosts).foreach(Files.setLastModifiedTime(_, past))
    FrontierStream.processBatch(spark, Seq("tick").toDF("value"), 1L,
      stateRoot, visitor, batchSize = 2)
    assert(!Files.exists(oldSv) && !Files.exists(oldHosts),
      "orphaned temps older than the grace must be swept by the loop")
    assert(Files.exists(freshSv),
      "a temp inside the grace window must survive")
  }

  test("continuous trigger: rate-source ticks drive autonomous cycles " +
      "with no operator tick files") {
    val (seedDir, stateRoot, chk) =
      (tmp("fr-seed"), tmp("fr-state"), tmp("fr-chk"))
    seedFile(seedDir, "seeds.txt", Seq("https://registry.npmjs.org/index"))
    val q = FrontierStream.startContinuous(spark, seedDir, stateRoot, chk,
      visitor, ticksPerSecond = 5)
    try {
      val deadline = System.currentTimeMillis() + 180000
      def done: Boolean =
        FrontierStream.committedBatch(stateRoot) >= 3 && {
          val s = FrontierStream.currentFrontier(spark, stateRoot)
          s.count() == 3 && s.filter("last_visit_date IS NULL").count() == 0
        }
      while (!done && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      assert(done,
        s"no autonomous convergence: batch=" +
          s"${FrontierStream.committedBatch(stateRoot)}")
    } finally q.stop()
  }

  test("a batch on one thread leaves another thread's checkpoints " +
      "alone") {
    import spark.implicits._
    val stateRoot = tmp("fs-scope")
    FrontierStreamSpec.inVisit = new java.util.concurrent.CountDownLatch(1)
    FrontierStreamSpec.gate = new java.util.concurrent.CountDownLatch(1)
    val blocking: Frontier.Visitor = uri => {
      FrontierStreamSpec.inVisit.countDown()
      FrontierStreamSpec.gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
      Seq.empty
    }
    val seeds = Seq("https://registry.npmjs.org/index").toDF("value")
    @volatile var failure: Throwable = null
    val a = new Thread(() =>
      try FrontierStream.processBatch(spark, seeds, 0L, stateRoot,
        blocking, 10)
      catch { case e: Throwable => failure = e })
    a.start()
    try {
      assert(FrontierStreamSpec.inVisit.await(60,
        java.util.concurrent.TimeUnit.SECONDS))
      // checkpointed while A's batch is in flight
      val ck = spark.range(0, 100).toDF("id").localCheckpoint()
      FrontierStreamSpec.gate.countDown()
      a.join()
      assert(failure == null, s"batch failed: $failure")
      assert(FrontierStream.committedBatch(stateRoot) == 0L)
      assert(ck.count() == 100L)
    } finally {
      FrontierStreamSpec.gate.countDown()
      a.join()
    }
  }
}

object FrontierStreamSpec {
  // a visitor blocked mid-batch (executor side) and its release
  @volatile var inVisit = new java.util.concurrent.CountDownLatch(1)
  @volatile var gate = new java.util.concurrent.CountDownLatch(1)
  // crash-once latch shared with executor-free driver-side hook
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  // (uri, wall-clock ms) per visitor invocation — static so the
  // executor-side closure and the driver-side assertions share it
  // (local master = one JVM)
  val hits =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
}
