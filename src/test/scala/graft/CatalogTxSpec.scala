package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.catalog.{CommitStore, MergeEngine, PackageRow, TxLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The optimistic-concurrency catalog commit: two simultaneous
  * mergers into one catalog root must SERIALIZE (loser rebases onto
  * the winner's snapshot and re-applies), never lost-update — the
  * isolation story the reference gets from Postgres row locks and a
  * Delta runtime would give Spark, built here from a link(2) CAS over
  * plain parquet (catalog/TxLog.scala).
  */
class CatalogTxSpec extends SparkTestBase {
  import spark.implicits._

  private val NOW = "2026-08-14T00:00:00Z"

  private def emptyCatalog: DataFrame =
    Seq.empty[PackageRow].toDF()

  private def seedDf: DataFrame = Seq(
    PackageRow.minimal("http://x/a.jar", "maven", "a", Some("1.0"),
      miningLevel = 50),
    PackageRow.minimal("http://x/b.jar", "maven", "b", Some("2.0"),
      miningLevel = 50)).toDF()

  private def incoming(rows: PackageRow*)(level: Int): DataFrame =
    rows.toDF().withColumn("visit_level", lit(level))

  private def canon(df: DataFrame): Set[String] =
    df.select("download_url", "ptype", "name", "version", "description",
      "mining_level")
      .toJSON.collect().toSet

  test("CAS primitive: second commit of the same version loses") {
    val root = Files.createTempDirectory("txcas").toString
    TxLog.init(root)
    assert(TxLog.commit(root, 0L, "dirA") == 1L)
    intercept[TxLog.CommitConflict] { TxLog.commit(root, 0L, "dirB") }
    assert(TxLog.snapshot(root)._1 == 1L)
    assert(TxLog.snapshot(root)._2.contains(s"$root/data/dirA"))
  }

  test("mergeCommit composes the level-rule merge with the CAS log") {
    val root = Files.createTempDirectory("txmc").toString
    val v1 = TxLog.mergeCommit(spark, root, incoming(
      PackageRow.minimal("http://x/a.jar", "maven", "a", Some("1.0")))(50),
      NOW, emptyCatalog)
    val v2 = TxLog.mergeCommit(spark, root, incoming(
      PackageRow.minimal("http://x/a.jar", "maven", "a", Some("1.1"))
        .copy(description = Some("newer")))(60),
      NOW, emptyCatalog)
    assert((v1, v2) == (1L, 2L))
    val (_, cat) = TxLog.read(spark, root, emptyCatalog)
    val row = cat.filter($"download_url" === "http://x/a.jar").collect().head
    assert(row.getAs[String]("version") == "1.1")
    assert(row.getAs[String]("description") == "newer")
    assert(row.getAs[Int]("mining_level") == 60)
  }

  test("two interleaved mergers serialize to a serial application") {
    val root = Files.createTempDirectory("txmerge").toString
    TxLog.transact(spark, root, emptyCatalog)(_ => seedDf)

    // batch A updates a.jar at a higher level and adds c.jar;
    // batch B updates b.jar and adds d.jar — overlapping CATALOG, so
    // a lost update would drop the other batch's effect entirely
    val inA = incoming(
      PackageRow.minimal("http://x/a.jar", "maven", "a", Some("1.1"))
        .copy(description = Some("A-desc")),
      PackageRow.minimal("http://x/c.jar", "maven", "c", Some("3.0")))(60)
    val inB = incoming(
      PackageRow.minimal("http://x/b.jar", "maven", "b", Some("2.1"))
        .copy(description = Some("B-desc")),
      PackageRow.minimal("http://x/d.jar", "maven", "d", Some("4.0")))(60)

    // both transactions are forced to read the SAME snapshot (v1)
    // before either commits: the barrier holds each one's FIRST merge
    // evaluation until the other arrives, so the CAS conflict is
    // guaranteed, not timing-dependent; the rebased re-run skips it
    val barrier = new CyclicBarrier(2)
    def contendedMerge(in: DataFrame): DataFrame => DataFrame = {
      val first = new AtomicBoolean(true)
      snap => {
        if (first.getAndSet(false)) barrier.await()
        MergeEngine.mergePackages(snap, in, NOW).packages
      }
    }
    val fa = Future {
      TxLog.transact(spark, root, emptyCatalog)(contendedMerge(inA))
    }
    val fb = Future {
      TxLog.transact(spark, root, emptyCatalog)(contendedMerge(inB))
    }
    val versions = Set(Await.result(fa, 120.seconds),
      Await.result(fb, 120.seconds))
    assert(versions == Set(2L, 3L),
      s"expected versions 2 and 3, got $versions")

    val (v, finalDf) = TxLog.read(spark, root, emptyCatalog)
    assert(v == 3L)

    // serial oracles, both orders (the merge is commutative on this
    // input, but the contract is only "equals SOME serial order")
    val ab = MergeEngine.mergePackages(
      MergeEngine.mergePackages(seedDf, inA, NOW).packages, inB, NOW).packages
    val ba = MergeEngine.mergePackages(
      MergeEngine.mergePackages(seedDf, inB, NOW).packages, inA, NOW).packages
    val got = canon(finalDf)
    assert(got == canon(ab) || got == canon(ba),
      s"concurrent result is not a serial application:\n$got")
    // no lost update: every batch's effect is present
    assert(finalDf.filter($"download_url" === "http://x/a.jar" &&
      $"description" === "A-desc").count() == 1)
    assert(finalDf.filter($"download_url" === "http://x/b.jar" &&
      $"description" === "B-desc").count() == 1)
    assert(finalDf.count() == 4)

    // retention drops the superseded snapshots and the loser's
    // abandoned staging, keeps the live version readable (graceMs=0:
    // writers are quiesced here, so no staging window to protect)
    TxLog.vacuum(root, keep = 1, graceMs = 0L)
    val (v2, after) = TxLog.read(spark, root, emptyCatalog)
    assert(v2 == 3L && canon(after) == got)
    val dataDirs = Files.list(java.nio.file.Paths.get(root, "data"))
    try assert(dataDirs.count() == 1L)
    finally dataDirs.close()
  }

  // ---- O(delta) partitioned commits (round-10 verdict item 2) ----

  test("delta commit rewrites ONLY the touched partitions") {
    val root = Files.createTempDirectory("txdelta").toString
    val seed = (0 until 200).map(i => PackageRow.minimal(
      s"http://x/p$i.jar", "maven", s"p$i", Some("1.0")))
    assert(TxLog.mergeCommitDelta(spark, root, incoming(seed: _*)(50),
      NOW, emptyCatalog, partitions = 16) == 1L)
    val (_, m1) = TxLog.manifestSnapshot(root)
    // 200 keys over 16 hash partitions: every partition populated
    assert(m1.size == 16)

    // a 2-row priority merge into the 200-row catalog
    val inc = incoming(
      PackageRow.minimal("http://x/p3.jar", "maven", "p3", Some("1.1"))
        .copy(description = Some("upd")),
      PackageRow.minimal("http://x/new.jar", "maven", "new", Some("9.9")))(60)
    assert(TxLog.mergeCommitDelta(spark, root, inc, NOW, emptyCatalog,
      partitions = 16) == 2L)
    val (_, m2) = TxLog.manifestSnapshot(root)

    // the delta contract, asserted on the FILES: at most 2 partitions
    // re-written (1 if both keys hash together); every other
    // partition's manifest entry re-links v1's files verbatim
    val changed = m2.filter { case (p, d) => !m1.get(p).contains(d) }
    assert(changed.nonEmpty && changed.size <= 2,
      s"expected <=2 rewritten partitions, got ${changed.size}")
    assert((m2 -- changed.keys) == (m1 -- changed.keys))
    // the v2 data dir holds ONLY the touched pid subdirs
    val v2dirs = changed.values.map(_.split('/').head).toSet
    assert(v2dirs.size == 1)
    val pidSubdirs = Files.list(
      java.nio.file.Paths.get(root, "data", v2dirs.head))
    try assert(pidSubdirs
      .filter(p => p.getFileName.toString.startsWith("pid="))
      .count() == changed.size.toLong)
    finally pidSubdirs.close()

    // and the result equals the whole-table serial merge oracle
    val oracle = MergeEngine.mergePackages(
      MergeEngine.mergePackages(emptyCatalog, incoming(seed: _*)(50),
        NOW).packages, inc, NOW).packages
    val (_, cat) = TxLog.readDelta(spark, root, emptyCatalog)
    assert(cat.count() == 201)
    assert(canon(cat) == canon(oracle))
  }

  test("delta commit rebases on conflict (optimistic protocol)") {
    val root = Files.createTempDirectory("txdeltarace").toString
    val seed = (0 until 50).map(i => PackageRow.minimal(
      s"http://x/s$i.jar", "maven", s"s$i", Some("1.0")))
    TxLog.mergeCommitDelta(spark, root, incoming(seed: _*)(50), NOW,
      emptyCatalog, partitions = 16)
    val incA = incoming(
      PackageRow.minimal("http://x/s0.jar", "maven", "s0", Some("1.1"))
        .copy(description = Some("A-desc")))(60)
    val incB = incoming(
      PackageRow.minimal("http://x/s1.jar", "maven", "s1", Some("1.2"))
        .copy(description = Some("B-desc")))(60)
    // deterministic race: A stages against v1, then the hook commits
    // B (v2) before A's CAS — A must conflict, GC its staging, rebase
    // onto B's manifest, and land at v3 with BOTH effects live
    val hooked = new AtomicBoolean(false)
    val vA = TxLog.mergeCommitDelta(spark, root, incA, NOW, emptyCatalog,
      partitions = 16, preCommitHook = _ =>
        if (!hooked.getAndSet(true))
          TxLog.mergeCommitDelta(spark, root, incB, NOW, emptyCatalog,
            partitions = 16))
    assert(vA == 3L)
    val (v, cat) = TxLog.readDelta(spark, root, emptyCatalog)
    assert(v == 3L && cat.count() == 50)
    assert(cat.filter($"download_url" === "http://x/s0.jar" &&
      $"description" === "A-desc").count() == 1)
    assert(cat.filter($"download_url" === "http://x/s1.jar" &&
      $"description" === "B-desc").count() == 1)
    // the losing attempt's staged dir was GC'd: exactly 3 data dirs
    // remain (seed, B's delta, A's rebased delta)
    val dataDirs = Files.list(java.nio.file.Paths.get(root, "data"))
    try assert(dataDirs.count() == 3L)
    finally dataDirs.close()
  }

  test("exhausted retries GC the final staged dir before rethrowing") {
    val root = Files.createTempDirectory("txgc").toString
    TxLog.init(root)
    // a store that never grants a claim: every attempt loses
    val losing = new CommitStore {
      def putIfAbsent(target: java.nio.file.Path, content: String) = false
    }
    intercept[TxLog.CommitConflict] {
      TxLog.transact(spark, root, emptyCatalog, store = losing)(_ => seedDf)
    }
    // ADVICE r9: the propagating-conflict path must not leak staging
    val dirs = Files.list(java.nio.file.Paths.get(root, "data"))
    try assert(dirs.count() == 0L)
    finally dirs.close()
  }

  test("a reader pinned on the previous version survives a keep=2 " +
      "vacuum (the documented min-reader margin)") {
    val root = Files.createTempDirectory("txreader").toString
    TxLog.mergeCommit(spark, root, incoming(
      PackageRow.minimal("http://x/r1.jar", "maven", "r1",
        Some("1.0")))(50), NOW, emptyCatalog)
    // reader pins version 1 LAZILY (plan built, not yet executed —
    // the slow-concurrent-reader shape)
    val pinned = TxLog.read(spark, root, emptyCatalog)._2
    // a writer commits version 2, superseding the pinned snapshot
    TxLog.mergeCommit(spark, root, incoming(
      PackageRow.minimal("http://x/r2.jar", "maven", "r2",
        Some("2.0")))(50), NOW, emptyCatalog)
    // vacuum with the default keep=2 margin: v1's data dir stays
    TxLog.vacuum(root, keep = 2, graceMs = 0L)
    assert(pinned.count() == 1L,
      "keep=2 must leave the previous version readable mid-scan")
    // the margin is the contract: keep=1 reclaims it (readers must
    // be quiesced first, per the vacuum scaladoc)
    TxLog.vacuum(root, keep = 1, graceMs = 0L)
    val dirs = Files.list(java.nio.file.Paths.get(root, "data"))
    try assert(dirs.count() == 1L)
    finally dirs.close()
  }

  test("vacuum grace spares fresh unreferenced staging, drops old") {
    val root = Files.createTempDirectory("txvac").toString
    TxLog.init(root)
    Files.createDirectories(java.nio.file.Paths.get(root, "data", "live"))
    Files.writeString(
      java.nio.file.Paths.get(root, "data", "live", "f.parquet"), "x")
    TxLog.commit(root, 0L, "live")
    val staged = java.nio.file.Paths.get(root, "data", "inflight")
    Files.createDirectories(staged)
    // default grace: a fresh unreferenced dir could be an in-flight
    // writer's staging whose CAS is about to land — spared
    TxLog.vacuum(root, keep = 1)
    assert(Files.exists(staged))
    // writers quiesced (grace waived): dropped, live data untouched
    TxLog.vacuum(root, keep = 1, graceMs = 0L)
    assert(!Files.exists(staged))
    assert(Files.exists(
      java.nio.file.Paths.get(root, "data", "live", "f.parquet")))
  }

  test("vacuum prunes old commit records into the TAGFLOOR sidecar: " +
      "metadata stays bounded, the replay watermark survives") {
    val root = Files.createTempDirectory("txtags").toString
    // an always-on stream's shape: one tagged delta commit per batch
    (0 until 12).foreach { b =>
      TxLog.mergeCommitDelta(spark, root, incoming(
        PackageRow.minimal(s"http://x/b$b.jar", "maven", s"b$b",
          Some("1.0")))(50), NOW, emptyCatalog, tag = Some(b.toLong))
    }
    assert(TxLog.maxTag(root) == 11L)
    def commitFiles(): Seq[String] = {
      val l = Files.list(java.nio.file.Paths.get(root, "_commits"))
      try {
        val b = scala.collection.mutable.ArrayBuffer.empty[String]
        l.forEach(p => b += p.getFileName.toString)
        b.toSeq
      } finally l.close()
    }
    assert(commitFiles().count(_.startsWith("v")) == 12)

    TxLog.vacuum(root, keep = 2, graceMs = 0L)
    // bounded: keep-window records only (+ the sidecar)
    assert(commitFiles().count(_.startsWith("v")) == 2)
    // the watermark folded forward — a replayed batch ≤ 11 still skips
    assert(TxLog.maxTag(root) == 11L)
    // the table is intact at its latest version
    val (v, cat) = TxLog.readDelta(spark, root, emptyCatalog)
    assert(v == 12L && cat.count() == 12L)

    // monotonic across further commits + vacuums
    TxLog.mergeCommitDelta(spark, root, incoming(
      PackageRow.minimal("http://x/b12.jar", "maven", "b12",
        Some("1.0")))(50), NOW, emptyCatalog, tag = Some(12L))
    TxLog.vacuum(root, keep = 2, graceMs = 0L)
    assert(TxLog.maxTag(root) == 12L)
  }

  // ---- round-11: O(touched) commit RECORDS (delta log +
  // checkpoints) and the round-10 ADVICE pins --------------------

  private def recordFiles(root: String): Seq[(Long, java.nio.file.Path)] = {
    val l = Files.list(java.nio.file.Paths.get(root, "_commits"))
    try {
      val b = scala.collection.mutable.ArrayBuffer
        .empty[(Long, java.nio.file.Path)]
      l.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v")) b += ((n.drop(1).toLong, p))
      }
      b.sortBy(_._1).toSeq
    } finally l.close()
  }

  test("commit records are O(touched): #delta records between periodic " +
      "#manifest checkpoints, and the overlay chain resolves at every " +
      "version") {
    val root = Files.createTempDirectory("txreclog").toString
    val seed = (0 until 200).map(i => PackageRow.minimal(
      s"http://x/r$i.jar", "maven", s"r$i", Some("1.0")))
    // v1: bulk (touches all 16 pids); v2..v7: one-key deltas;
    // checkpointEvery=4 → v4 is a full checkpoint
    TxLog.mergeCommitDelta(spark, root, incoming(seed: _*)(50), NOW,
      emptyCatalog, partitions = 16, checkpointEvery = 4)
    (1 to 6).foreach { j =>
      TxLog.mergeCommitDelta(spark, root, incoming(
        PackageRow.minimal(s"http://x/extra$j.jar", "maven", s"extra$j",
          Some("1.0")))(50), NOW, emptyCatalog, partitions = 16,
        checkpointEvery = 4)
      // the reconstructed manifest stays full-width after every commit
      assert(TxLog.manifestSnapshot(root)._2.size == 16)
      assert(TxLog.readDelta(spark, root, emptyCatalog)._2.count()
        == 200L + j)
    }
    val recs = recordFiles(root).toMap
    def lines(v: Long): Seq[String] =
      Files.readString(recs(v)).trim.linesIterator.toSeq
    // a one-key commit's record is one header + ONE pid line — not
    // one line per live partition (the O(partitions) metadata the
    // round-10 verdict flagged at the 10⁵-partition sizing)
    Seq(2L, 3L, 5L, 6L, 7L).foreach { v =>
      assert(lines(v).head == "#delta", s"v$v: ${lines(v).head}")
      assert(lines(v).count(_.contains('\t')) == 1,
        s"v$v should name only its touched partition: ${lines(v)}")
    }
    // v4 is the periodic checkpoint: complete manifest, self-contained
    assert(lines(4L).head == "#manifest")
    assert(lines(4L).count(_.contains('\t')) == 16)
  }

  test("two interleaved delta writers resolve checkpoint+tail " +
      "correctly across a checkpoint boundary") {
    val root = Files.createTempDirectory("txinter").toString
    val seed = (0 until 60).map(i => PackageRow.minimal(
      s"http://x/w$i.jar", "maven", s"w$i", Some("1.0")))
    TxLog.mergeCommitDelta(spark, root, incoming(seed: _*)(50), NOW,
      emptyCatalog, partitions = 16, checkpointEvery = 3)
    // writers A and B alternate one-key commits; versions cross two
    // checkpoint boundaries (v3, v6); each read must overlay the
    // delta tail onto the newest checkpoint at or below it
    (0 until 6).foreach { j =>
      val who = if (j % 2 == 0) "A" else "B"
      TxLog.mergeCommitDelta(spark, root, incoming(
        PackageRow.minimal(s"http://x/w$j.jar", "maven", s"w$j",
          Some("2.0")).copy(description = Some(s"by-$who")))(60),
        NOW, emptyCatalog, partitions = 16, checkpointEvery = 3)
    }
    val (v, cat) = TxLog.readDelta(spark, root, emptyCatalog)
    assert(v == 7L && cat.count() == 60L)
    // every writer's update is live at its final value
    (0 until 6).foreach { j =>
      val who = if (j % 2 == 0) "A" else "B"
      assert(cat.filter($"download_url" === s"http://x/w$j.jar" &&
        $"version" === "2.0" && $"description" === s"by-$who")
        .count() == 1, s"w$j lost")
    }
    // and equals the serial whole-table oracle
    val oracle = (0 until 6).foldLeft(
      MergeEngine.mergePackages(emptyCatalog, incoming(seed: _*)(50),
        NOW).packages) { (acc, j) =>
      val who = if (j % 2 == 0) "A" else "B"
      MergeEngine.mergePackages(acc, incoming(
        PackageRow.minimal(s"http://x/w$j.jar", "maven", s"w$j",
          Some("2.0")).copy(description = Some(s"by-$who")))(60),
        NOW).packages
    }
    assert(canon(cat) == canon(oracle))
  }

  test("vacuum compacts the oldest kept delta record into a " +
      "checkpoint before pruning the chain below it") {
    val root = Files.createTempDirectory("txcompact").toString
    (0 until 9).foreach { j =>
      TxLog.mergeCommitDelta(spark, root, incoming(
        PackageRow.minimal(s"http://x/c$j.jar", "maven", s"c$j",
          Some("1.0")))(50), NOW, emptyCatalog, partitions = 16,
        checkpointEvery = 0) // no periodic checkpoints: all #delta
    }
    assert(recordFiles(root).forall { case (_, p) =>
      Files.readString(p).linesIterator.next() == "#delta" })
    TxLog.vacuum(root, keep = 2, graceMs = 0L)
    val kept = recordFiles(root)
    assert(kept.map(_._1) == Seq(8L, 9L))
    // v8 was rewritten in place as a self-contained checkpoint
    assert(Files.readString(kept.head._2).linesIterator.next()
      == "#manifest")
    val (v, cat) = TxLog.readDelta(spark, root, emptyCatalog)
    assert(v == 9L && cat.count() == 9L)
  }

  test("ADVICE r10: mixed commit formats throw instead of silently " +
      "reading an empty table") {
    // a delta (manifest) root refuses the whole-snapshot read path
    val rootD = Files.createTempDirectory("txmixd").toString
    TxLog.mergeCommitDelta(spark, rootD, incoming(
      PackageRow.minimal("http://x/m1.jar", "maven", "m1",
        Some("1.0")))(50), NOW, emptyCatalog)
    intercept[IllegalStateException] { TxLog.snapshot(rootD) }
    intercept[IllegalStateException] {
      TxLog.mergeCommit(spark, rootD, incoming(
        PackageRow.minimal("http://x/m2.jar", "maven", "m2",
          Some("1.0")))(50), NOW, emptyCatalog)
    }
    // and a whole-snapshot root refuses the delta read path
    val rootS = Files.createTempDirectory("txmixs").toString
    TxLog.mergeCommit(spark, rootS, incoming(
      PackageRow.minimal("http://x/m3.jar", "maven", "m3",
        Some("1.0")))(50), NOW, emptyCatalog)
    intercept[IllegalStateException] { TxLog.manifestSnapshot(rootS) }
    intercept[IllegalStateException] {
      TxLog.mergeCommitDelta(spark, rootS, incoming(
        PackageRow.minimal("http://x/m4.jar", "maven", "m4",
          Some("1.0")))(50), NOW, emptyCatalog)
    }
  }

  test("ADVICE r10: the partition count is persisted at root creation " +
      "and a mismatched later call throws") {
    val root = Files.createTempDirectory("txparts").toString
    TxLog.mergeCommitDelta(spark, root, incoming(
      PackageRow.minimal("http://x/p1.jar", "maven", "p1",
        Some("1.0")))(50), NOW, emptyCatalog, partitions = 16)
    assert(Files.readString(java.nio.file.Paths.get(root, "_commits",
      "PARTITIONS")).trim == "16")
    intercept[IllegalArgumentException] {
      TxLog.mergeCommitDelta(spark, root, incoming(
        PackageRow.minimal("http://x/p2.jar", "maven", "p2",
          Some("1.0")))(50), NOW, emptyCatalog, partitions = 32)
    }
    // the matching count still commits
    assert(TxLog.mergeCommitDelta(spark, root, incoming(
      PackageRow.minimal("http://x/p2.jar", "maven", "p2",
        Some("1.0")))(50), NOW, emptyCatalog, partitions = 16) == 2L)
  }

  test("ADVICE r10: vacuum's grace keys off the DEEP tree mtime, not " +
      "the top-level dir (partitionBy writes don't bump the parent)") {
    val root = Files.createTempDirectory("txdeep").toString
    TxLog.init(root)
    TxLog.commit(root, 0L, "live")
    Files.createDirectories(java.nio.file.Paths.get(root, "data", "live"))
    // a staged partitioned write: top-level dir mtime is OLD (set
    // before the task files land), but a task file deep under pid=0
    // is FRESH — the in-flight writer the grace window must spare
    val staged = java.nio.file.Paths.get(root, "data", "inflight")
    Files.createDirectories(staged.resolve("pid=0"))
    Files.writeString(staged.resolve("pid=0").resolve("part-0.parquet"),
      "fresh-task-file")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60L * 60 * 1000)
    Files.setLastModifiedTime(staged, old)
    TxLog.vacuum(root, keep = 1) // default 20-min grace
    assert(Files.exists(staged),
      "grace must see the newest file in the tree, not the dir mtime")
  }

  test("time travel: readDeltaAt reads any retained version, and " +
      "vacuum bounds how far back it reaches") {
    val root = Files.createTempDirectory("txtravel").toString
    // v1: {a}; v2: {a,b}; v3: {a,b,c} — three delta commits
    Seq("a", "b", "c").foreach { n =>
      TxLog.mergeCommitDelta(spark, root, incoming(
        PackageRow.minimal(s"http://x/$n.jar", "maven", n,
          Some("1.0")))(50), NOW, emptyCatalog, partitions = 8)
    }
    def namesAt(v: Long): Set[String] =
      TxLog.readDeltaAt(spark, root, emptyCatalog, v)
        .select("name").as[String].collect().toSet
    assert(namesAt(1L) == Set("a"))
    assert(namesAt(2L) == Set("a", "b"))
    assert(namesAt(3L) == Set("a", "b", "c"))
    // latest read agrees with the time-travel read at the head
    assert(TxLog.readDelta(spark, root, emptyCatalog)._1 == 3L)

    // retention bounds the horizon: keep=2 prunes v1's record (and
    // any dirs only it referenced), so v2/v3 stay readable, v1 throws
    TxLog.vacuum(root, keep = 2, graceMs = 0L)
    assert(namesAt(2L) == Set("a", "b"))
    assert(namesAt(3L) == Set("a", "b", "c"))
    val e = intercept[IllegalArgumentException](namesAt(1L))
    assert(e.getMessage.contains("retained window"))
  }

  // ---- pluggable CommitStore (round-11 verdict item 3) -----------
  // The same concurrency/vacuum/time-travel suite through BOTH CAS
  // implementations: the default link(2) store and the
  // conditional-PUT-shaped test double — proving everything above
  // the CAS (optimistic rebase, manifest overlay, retention, time
  // travel) is store-agnostic.
  for ((label, mkStore) <- Seq[(String, () => graft.catalog.CommitStore)](
      "link(2)" -> (() => graft.catalog.LinkCommitStore),
      "conditional-PUT" -> (() => new graft.catalog.LockingPutCommitStore))) {

    test(s"CommitStore[$label]: CAS loses on a claimed version; " +
        "contended transacts serialize; delta+vacuum+time-travel run " +
        "through the store") {
      val store = mkStore()

      // CAS primitive
      val casRoot = Files.createTempDirectory("txcs").toString
      TxLog.init(casRoot)
      assert(TxLog.commit(casRoot, 0L, "dirA", store) == 1L)
      intercept[TxLog.CommitConflict] {
        TxLog.commit(casRoot, 0L, "dirB", store)
      }
      assert(TxLog.snapshot(casRoot) ==
        (1L, Some(s"$casRoot/data/dirA")))

      // contended transact: both mergers read v1 before either
      // commits (barrier), so the CAS conflict is guaranteed
      val root = Files.createTempDirectory("txcsm").toString
      TxLog.transact(spark, root, emptyCatalog, store = store)(_ => seedDf)
      val inA = incoming(
        PackageRow.minimal("http://x/a.jar", "maven", "a", Some("1.1"))
          .copy(description = Some("A-desc")))(60)
      val inB = incoming(
        PackageRow.minimal("http://x/b.jar", "maven", "b", Some("2.1"))
          .copy(description = Some("B-desc")))(60)
      val barrier = new CyclicBarrier(2)
      def contended(in: DataFrame): DataFrame => DataFrame = {
        val first = new AtomicBoolean(true)
        snap => {
          if (first.getAndSet(false)) barrier.await()
          MergeEngine.mergePackages(snap, in, NOW).packages
        }
      }
      val fa = Future { TxLog.transact(spark, root, emptyCatalog,
        store = store)(contended(inA)) }
      val fb = Future { TxLog.transact(spark, root, emptyCatalog,
        store = store)(contended(inB)) }
      val versions = Set(Await.result(fa, 120.seconds),
        Await.result(fb, 120.seconds))
      assert(versions == Set(2L, 3L))
      val (_, finalDf) = TxLog.read(spark, root, emptyCatalog)
      assert(finalDf.filter($"download_url" === "http://x/a.jar" &&
        $"description" === "A-desc").count() == 1)
      assert(finalDf.filter($"download_url" === "http://x/b.jar" &&
        $"description" === "B-desc").count() == 1)

      // delta commits + time travel + vacuum through the store
      val droot = Files.createTempDirectory("txcsd").toString
      Seq("a", "b", "c").foreach { n =>
        TxLog.mergeCommitDelta(spark, droot, incoming(
          PackageRow.minimal(s"http://x/$n.jar", "maven", n,
            Some("1.0")))(50), NOW, emptyCatalog, partitions = 8,
          store = store)
      }
      def namesAt(v: Long): Set[String] =
        TxLog.readDeltaAt(spark, droot, emptyCatalog, v)
          .select("name").as[String].collect().toSet
      assert(namesAt(2L) == Set("a", "b"))
      assert(namesAt(3L) == Set("a", "b", "c"))
      TxLog.vacuum(droot, keep = 2, graceMs = 0L)
      assert(namesAt(3L) == Set("a", "b", "c"))
      intercept[IllegalArgumentException](namesAt(1L))
    }
  }

  test("vacuum sweeps crash-orphaned dot-files in _commits past the " +
      "grace window, sparing in-flight temps inside it") {
    val root = Files.createTempDirectory("txorphan").toString
    TxLog.init(root)
    TxLog.commit(root, 0L, "dirA")
    val commits = java.nio.file.Paths.get(root, "_commits")
    val oldTmp = commits.resolve(".tmp-dead-writer")
    val oldCkpt = commits.resolve(".ckpt-dead-vacuum")
    val freshTmp = commits.resolve(".tmp-in-flight")
    Seq(oldTmp, oldCkpt, freshTmp).foreach(Files.writeString(_, "x"))
    val past = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10 * 60 * 1000)
    Seq(oldTmp, oldCkpt).foreach(Files.setLastModifiedTime(_, past))
    TxLog.vacuum(root, keep = 1, graceMs = 60 * 1000)
    assert(!Files.exists(oldTmp) && !Files.exists(oldCkpt),
      "orphaned temps older than the grace must be swept")
    assert(Files.exists(freshTmp),
      "a temp inside the grace window must survive (in-flight writer)")
    // the sidecars and commit records are untouched
    assert(Files.exists(commits.resolve(f"v${1L}%020d")))
  }

  test("ADVICE r11: a version whose overlay chain was partially " +
      "pruned throws instead of returning a PARTIAL table") {
    val root = Files.createTempDirectory("txpartial").toString
    // three delta commits with checkpoints off: v2's chain NEEDS v1
    Seq("a", "b", "c").foreach { n =>
      TxLog.mergeCommitDelta(spark, root, incoming(
        PackageRow.minimal(s"http://x/$n.jar", "maven", n,
          Some("1.0")))(50), NOW, emptyCatalog, partitions = 8,
        checkpointEvery = 0)
    }
    // simulate the grace-band scenario: v1's record is gone (pruned)
    // while v2's delta survived — v2 is no longer resolvable
    Files.delete(java.nio.file.Paths.get(root, "_commits", f"v${1L}%020d"))
    val e = intercept[IllegalStateException] {
      TxLog.readDeltaAt(spark, root, emptyCatalog, 2L).count()
    }
    assert(e.getMessage.contains("resolvable window"), e.getMessage)
  }
}
