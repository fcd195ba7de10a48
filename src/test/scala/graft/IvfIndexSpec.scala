package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.{LockingPutCommitStore, TxLog}
import graft.ops.{IvfIndexStore, SimilarityOps}

/** The persisted IVF index artifact ([[graft.ops.IvfIndexStore]]):
  * save/load exactness, O(increment) append on frozen centroids,
  * bucket-pruned shortlist equivalence, time travel + retention,
  * compaction, CAS serialization of concurrent appenders, and the
  * orphan sweep. Uses the sf0.001 embeddings so the arithmetic is the
  * same integer-exact path the DuckDB oracle replays. */
class IvfIndexSpec extends SparkTestBase {

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"ivfspec_$tag").toString

  private def emb: DataFrame = SimilarityOps.quantized(spark, sf001)
  private def corpus: DataFrame = emb.filter(col("vec_id") % 5 =!= 0)
  private def inc: DataFrame = emb.filter(col("vec_id") % 5 === 0)

  private def cellRows(df: DataFrame): Set[(Long, Long)] =
    df.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("save → load roundtrips the index bit-for-bit") {
    val root = freshRoot("roundtrip")
    val v = IvfIndexStore.save(root, corpus, 32)
    assert(v == 1L)
    val idx = IvfIndexStore.load(spark, root)
    assert(idx.k == 32 && idx.version == 1L)

    val cents = SimilarityOps.ivfCentroids(corpus, 32)
    val memCents = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector, r.getLong(2)))
      .toSet
    val gotCents = idx.centroids.select("cid", "cv", "cn2").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector, r.getLong(2)))
      .toSet
    assert(gotCents == memCents)

    val memCells = cellRows(SimilarityOps.ivfCells(corpus, cents))
    assert(cellRows(idx.cells) == memCells)
    // member vectors persist too (IVF-Flat: the inverted lists ARE
    // the storage) — spot-check one vector roundtrips exactly
    val m = idx.cells.orderBy("vec_id")
      .select("vec_id", "v").head()
    val orig = corpus.filter(col("vec_id") === m.getLong(0))
      .select("v").head().getSeq[Long](0)
    assert(m.getSeq[Long](1) == orig)
  }

  test("shortlist on the LOADED index equals the in-memory " +
      "increment plan (the s_ann_increment twin)") {
    val root = freshRoot("shortlist")
    val kC = math.max(32L, corpus.count() / 64L).toInt
    IvfIndexStore.save(root, corpus, kC)
    val idx = IvfIndexStore.load(spark, root)
    val got = IvfIndexStore.shortlist(idx, inc, nprobe = 4, topK = 3)
      .select("qid", "nid", "cosine", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

    val mem = Registry.byName("s_ann_increment").run(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got == mem)
    SimilarityOps.releaseCaches()
  }

  test("append is O(increment): frozen centroids, corpus rows " +
      "untouched, shard dir carries only the increment") {
    val root = freshRoot("append")
    IvfIndexStore.save(root, corpus, 32)
    val v1 = IvfIndexStore.load(spark, root)
    val v2 = IvfIndexStore.append(spark, root, inc)
    assert(v2 == 2L)
    val idx2 = IvfIndexStore.loadAt(spark, root, v2)

    // centroids untouched (same frame, byte-for-byte)
    val c1 = v1.centroids.select("cid", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    val c2 = idx2.centroids.select("cid", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    assert(c1 == c2)

    // cells = corpus assignment ∪ frozen-centroid shard assignment
    val expected = cellRows(v1.cells) ++
      cellRows(SimilarityOps.ivfCells(inc, v1.centroids))
    assert(cellRows(idx2.cells) == expected)

    // the append staged exactly one new data dir, and it holds only
    // increment rows — the O(increment) write claim, on the files
    val dirs = Files.list(Paths.get(root, "data")).iterator()
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    while (dirs.hasNext) names += dirs.next().getFileName.toString
    assert(names.size == 2, s"data dirs: $names")
    val shardDir = names.filterNot(n =>
      Files.exists(Paths.get(root, "data", n, "centroids"))).head
    val shard = spark.read.parquet(s"$root/data/$shardDir/cells")
    assert(shard.count() == inc.count())
    assert(shard.filter(col("vec_id") % 5 =!= 0).count() == 0)
  }

  test("time travel reads v1 without the shard; vacuum prunes it " +
      "and the pruned version throws") {
    val root = freshRoot("travel")
    IvfIndexStore.save(root, corpus, 32)
    IvfIndexStore.append(spark, root, inc)
    val at1 = IvfIndexStore.loadAt(spark, root, 1L)
    assert(at1.cells.filter(col("vec_id") % 5 === 0).count() == 0)

    IvfIndexStore.vacuum(root, keep = 1, graceMs = 0L)
    val e = intercept[IllegalArgumentException](
      IvfIndexStore.loadAt(spark, root, 1L))
    assert(e.getMessage.contains("retained window"))
    // the latest version still reads: its dirs survived the sweep
    assert(cellRows(IvfIndexStore.load(spark, root).cells)
      .size == emb.count())
  }

  test("vacuum sweeps unreferenced data dirs and aged dot-orphans; " +
      "a fresh temp inside the grace survives") {
    val root = freshRoot("sweep")
    IvfIndexStore.save(root, corpus, 32)
    IvfIndexStore.append(spark, root, inc)
    val beforeCompact = {
      val l = Files.list(Paths.get(root, "data")).iterator()
      val b = scala.collection.mutable.Set.empty[String]
      while (l.hasNext) b += l.next().getFileName.toString
      b.toSet
    }
    IvfIndexStore.compact(spark, root) // v3: dir1's cells + dir2 go dead
    // age the pre-compact dirs past the grace (treeMtime takes the
    // NEWEST file in the tree, so every file must age)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600 * 1000L)
    beforeCompact.foreach { d =>
      Files.walk(Paths.get(root, "data", d))
        .forEach(p => Files.setLastModifiedTime(p, old))
    }
    val aged = Paths.get(root, "_commits", ".tmp-aged")
    val fresh = Paths.get(root, "_commits", ".tmp-fresh")
    Files.writeString(aged, "orphan")
    Files.writeString(fresh, "in-flight")
    Files.setLastModifiedTime(aged, old)
    IvfIndexStore.vacuum(root, keep = 1, graceMs = 60 * 1000L)
    assert(!Files.exists(aged), "aged orphan must be swept")
    assert(Files.exists(fresh), "in-grace temp must survive")
    // the dead pre-compact dir (cells-only) is gone; the centroid
    // dir's family survives because v3 still references it
    val after = {
      val l = Files.list(Paths.get(root, "data")).iterator()
      val b = scala.collection.mutable.Set.empty[String]
      while (l.hasNext) b += l.next().getFileName.toString
      b.toSet
    }
    val centroidDir = beforeCompact.find(d =>
      Files.exists(Paths.get(root, "data", d, "centroids"))).get
    assert(after.contains(centroidDir),
      "still-referenced centroid dir must survive")
    assert((beforeCompact - centroidDir).forall(!after.contains(_)),
      s"dead shard dirs must be swept: before=$beforeCompact after=$after")
    // compacted index intact
    assert(cellRows(IvfIndexStore.load(spark, root).cells)
      .size == emb.count())
  }

  test("the shortlist's cells scan is PARTITION-PRUNED to the " +
      "probed buckets (the pushed filter is the scale claim)") {
    val root = freshRoot("prune")
    IvfIndexStore.save(root, corpus, 32)
    val idx = IvfIndexStore.load(spark, root)
    // 2 query vectors × nprobe 4 → ≤ 8 probed cells → ≤ 8 of the 8
    // buckets... shrink to 1 query so pruning is strict (≤ 4 cells)
    val q = inc.filter(col("vec_id") === 5L)
    val out = IvfIndexStore.shortlist(idx, q, nprobe = 4, topK = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*pb[^\\]]*\\]".r
        .findFirstIn(plan).isDefined,
      s"cells scan must carry a pb partition filter:\n$plan")
    // and the pruned shortlist is still exactly the exact answer
    assert(out.count() == 3)
    SimilarityOps.releaseCaches()
  }

  test("compact folds the shard list to one dir with identical " +
      "content") {
    val root = freshRoot("compact")
    IvfIndexStore.save(root, corpus, 32)
    IvfIndexStore.append(spark, root, inc)
    val before = cellRows(IvfIndexStore.load(spark, root).cells)
    val v3 = IvfIndexStore.compact(spark, root)
    assert(v3 == 3L)
    val after = IvfIndexStore.load(spark, root)
    assert(cellRows(after.cells) == before)
    val rec = Files.readString(
      Paths.get(root, "_commits", f"v$v3%020d")).trim
    assert(rec.linesIterator.count(_.startsWith("D\t")) == 1)
  }

  test("concurrent appenders serialize through the CAS: both shards " +
      "present, versions distinct (conditional-PUT double)") {
    val root = freshRoot("cas")
    val store = new LockingPutCommitStore
    IvfIndexStore.save(root, corpus, 32, store)
    val shardA = inc.filter(col("vec_id") % 10 === 0)
    val shardB = inc.filter(col("vec_id") % 10 =!= 0)
    val vs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = Seq(shardA, shardB).map { sh =>
      new Thread(() =>
        vs.add(IvfIndexStore.append(spark, root, sh, store)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(vs.size == 2)
    val sorted = {
      val it = vs.iterator(); Seq(it.next(), it.next()).sorted
    }
    assert(sorted == Seq(2L, 3L), s"got $sorted")
    val expected = cellRows(SimilarityOps.ivfCells(emb,
      IvfIndexStore.load(spark, root).centroids))
    assert(cellRows(IvfIndexStore.load(spark, root).cells) == expected)
  }

  test("an untagged append preserves the streaming replay tag") {
    val root = freshRoot("tagkeep")
    IvfIndexStore.save(root, corpus, 32)
    val shardA = inc.filter(col("vec_id") % 10 === 0)
    val shardB = inc.filter(col("vec_id") % 10 =!= 0)
    IvfIndexStore.append(spark, root, shardA, tag = Some(4L))
    // interleaved ad-hoc append without a tag
    IvfIndexStore.append(spark, root, shardB)
    val v = IvfIndexStore.latestVersion(root)
    // crash-replay of batch 4 must still no-op
    assert(IvfIndexStore.append(spark, root, shardA,
      tag = Some(4L)) == v)
    assert(IvfIndexStore.load(spark, root).cells.count() ==
      emb.count())
  }

  test("cellStats counts every trained cell — empties included — " +
      "and prunes the vector columns out of the cells scan") {
    val root = freshRoot("stats")
    IvfIndexStore.save(root, corpus, 32)
    IvfIndexStore.append(spark, root, inc)
    val idx = IvfIndexStore.load(spark, root)
    val stats = IvfIndexStore.cellStats(idx)
    assert(stats.count() == idx.centroids.count())
    assert(stats.agg(sum("n_members")).head().getLong(0) == emb.count())
    val direct = idx.cells.groupBy("cell").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = stats.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.filter(_._2 > 0) == direct)
    // empty-cell visibility: restrict the lists to one cell — every
    // other trained cell must surface with an explicit 0
    val one = direct.keys.min
    val restricted = idx.copy(
      cells = idx.cells.filter(col("cell") === one))
    assert(IvfIndexStore.cellStats(restricted)
      .filter(col("n_members") === 0L).count() ==
      idx.centroids.count() - 1)
    // the monitor never deserializes vectors: the cells scans read
    // only the cell column
    val plan = stats.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<cell:bigint>"),
      s"cells scan must prune to the cell column:\n$plan")
  }

  test("driftStats arithmetic and the needsRetrain trigger") {
    import spark.implicits._
    val cents = Seq(0L, 1L, 2L, 3L)
      .map(c => (c, Seq(1L), 1L)).toDF("cid", "cv", "cn2")
    val cells = (Seq.fill(9)(0L) ++ Seq(1L, 2L)).zipWithIndex
      .map { case (c, i) =>
        (i.toLong, Seq(1L), 1L, c, (c % 8).toInt) }
      .toDF("vec_id", "v", "n2", "cell", "pb")
    val idx = IvfIndexStore.IvfIndex(1L, 4, 8, cents, cells)
    val s = IvfIndexStore.driftStats(idx)
    assert(s.cells == 4 && s.vectors == 11 &&
      s.emptyCells == 1 && s.maxCell == 9)
    assert(math.abs(s.meanCell - 2.75) < 1e-9)
    assert(math.abs(s.imbalance - 9 / 2.75) < 1e-9)
    assert(!IvfIndexStore.needsRetrain(s))
    assert(IvfIndexStore.needsRetrain(s, maxImbalance = 3.0))
    assert(IvfIndexStore.needsRetrain(s, maxMeanCell = 2.0))
  }

  test("retrain re-sizes k to the current corpus, equals the " +
      "in-memory recompute on hash-sampled seeds, keeps history and " +
      "the replay tag, and later appends assign on the NEW centroids") {
    val root = freshRoot("retrain")
    IvfIndexStore.save(root, corpus, 32)
    IvfIndexStore.append(spark, root, inc, tag = Some(7L))
    val v3 = IvfIndexStore.retrain(spark, root)
    assert(v3 == 3L)
    val idx = IvfIndexStore.loadAt(spark, root, v3)
    val kNew = math.max(32L, emb.count() / 64L).toInt
    assert(idx.k == kNew)
    // retrain ≡ training with the corpus served by the artifact:
    // same hash-sampled seed rule, same single iteration
    val seeds = emb.orderBy(xxhash64(col("vec_id"))).limit(kNew)
      .select("vec_id", "v", "n2")
    val cents = SimilarityOps.ivfCentroids(emb, kNew, 1, Some(seeds))
    assert(cellRows(idx.cells) ==
      cellRows(SimilarityOps.ivfCells(emb, cents)))
    def cset(d: DataFrame) = d.select("cid", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    assert(cset(idx.centroids) == cset(cents))
    // reseed=false is the save-compatible A/B leg: bit-identical to a
    // fresh save over the same vectors
    val root2 = freshRoot("retrain_lowid")
    IvfIndexStore.save(root2, corpus, 32)
    IvfIndexStore.append(spark, root2, inc)
    IvfIndexStore.retrain(spark, root2, reseed = false)
    val fresh = freshRoot("retrain_fresh")
    IvfIndexStore.save(fresh, emb, kNew)
    val f = IvfIndexStore.load(spark, fresh)
    val lowid = IvfIndexStore.load(spark, root2)
    assert(cellRows(lowid.cells) == cellRows(f.cells))
    assert(cset(lowid.centroids) == cset(f.centroids))
    // the streaming replay tag survived: batch 7's replay still no-ops
    assert(IvfIndexStore.append(spark, root, inc, tag = Some(7L)) == v3)
    // pre-retrain history still time-travels
    assert(IvfIndexStore.loadAt(spark, root, 2L).cells.count() ==
      emb.count())
    // a post-retrain append assigns on the retrained centroids
    val off = emb.agg(max("vec_id")).head().getLong(0) + 1
    val shard = inc.select((col("vec_id") + lit(off)).as("vec_id"),
      col("v"), col("n2"))
    val v4 = IvfIndexStore.append(spark, root, shard)
    val expected = cellRows(SimilarityOps.ivfCells(shard, idx.centroids))
    assert(cellRows(IvfIndexStore.loadAt(spark, root, v4).cells
      .filter(col("vec_id") >= off)) == expected)
  }

  test("a retrain losing the CAS to an interleaved append propagates " +
      "— rebasing would silently drop the append's vectors") {
    val root = freshRoot("retrainrace")
    IvfIndexStore.save(root, corpus, 32)
    intercept[TxLog.CommitConflict] {
      IvfIndexStore.retrain(spark, root,
        preCommitHook = _ => { IvfIndexStore.append(spark, root, inc); () })
    }
    // the interleaved append won; nothing was lost or overwritten
    assert(IvfIndexStore.load(spark, root).cells.count() == emb.count())
  }

  test("delete tombstones are O(ids), filter every read path, fold " +
      "physically at compact, and never mutate trained structure") {
    val root = freshRoot("delete")
    IvfIndexStore.save(root, corpus, 32)
    IvfIndexStore.append(spark, root, inc)
    val before = IvfIndexStore.load(spark, root)
    val preCents = before.centroids.select("cid", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    val preCells = cellRows(before.cells)
    val delIds = emb.filter(col("vec_id") % 7 === 0).select("vec_id")
    val nDel = delIds.count()
    val v3 = IvfIndexStore.delete(spark, root, delIds)
    assert(v3 == 3L)

    // the delete staged ONLY a tombstone dir — no list dir was read
    // or rewritten (the O(ids) claim, on the files)
    val dirs = Files.list(Paths.get(root, "data")).iterator()
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    while (dirs.hasNext) names += dirs.next().getFileName.toString
    val tombDirs = names.filter(n =>
      Files.exists(Paths.get(root, "data", n, "tombs")))
    assert(tombDirs.size == 1, s"data dirs: $names")
    assert(spark.read.parquet(s"$root/data/${tombDirs.head}/tombs")
      .count() == nDel)

    // loaded cells = pre-delete cells minus the tombstoned ids;
    // centroids untouched (a takedown never retrains)
    val after = IvfIndexStore.load(spark, root)
    assert(cellRows(after.cells) ==
      preCells.filterNot(_._1 % 7 == 0))
    assert(after.centroids.select("cid", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet ==
      preCents)

    // probe-side equivalence: shortlist on the post-delete index ==
    // shortlist over an index whose lists never held the deleted ids
    // (surviving queries only — deleted ids are not queryable state)
    val q = inc.filter(col("vec_id") % 7 =!= 0)
    def pairs(d: DataFrame) = d.select("qid", "nid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = pairs(IvfIndexStore.shortlist(after, q, 4, 3))
    val twin = after.copy(
      cells = before.cells.filter(col("vec_id") % 7 =!= 0))
    assert(got == pairs(IvfIndexStore.shortlist(twin, q, 4, 3)))
    assert(!got.exists(_._2 % 7 == 0),
      "a deleted id must never surface as a neighbor")
    SimilarityOps.releaseCaches()

    // drift monitor sees the post-delete occupancy
    assert(IvfIndexStore.cellStats(after)
      .agg(sum("n_members")).head().getLong(0) ==
      emb.count() - nDel)

    // compact folds physically: same content, T lines dropped, and
    // the folded files no longer carry the deleted rows
    val v4 = IvfIndexStore.compact(spark, root)
    val rec = Files.readString(
      Paths.get(root, "_commits", f"v$v4%020d")).trim
    assert(!rec.linesIterator.exists(_.startsWith("T\t")),
      s"compact must drop tombstone lines:\n$rec")
    val folded = IvfIndexStore.load(spark, root)
    assert(cellRows(folded.cells) == cellRows(after.cells))
    val foldedDir = rec.linesIterator
      .find(_.startsWith("D\t")).get.drop(2)
    assert(spark.read.parquet(s"$root/data/$foldedDir")
      .filter(col("vec_id") % 7 === 0).count() == 0,
      "folded files must physically exclude deleted rows")

    // pre-delete history still time-travels complete
    assert(IvfIndexStore.loadAt(spark, root, 2L).cells.count() ==
      emb.count())
  }

  test("delete on a PQ index filters codes and cells alike; replay " +
      "tag and rebase-through-append hold") {
    val root = freshRoot("deletepq")
    IvfIndexStore.save(root, corpus, 32,
      pq = Some(IvfIndexStore.Pq(m = 4, ksub = 16)))
    IvfIndexStore.append(spark, root, inc)
    val v3 = IvfIndexStore.delete(spark, root,
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"),
      tag = Some(9L))
    // replayed takedown batch no-ops
    assert(IvfIndexStore.delete(spark, root,
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"),
      tag = Some(9L)) == v3)
    val idx = IvfIndexStore.load(spark, root)
    val codes = idx.pq.get.codes
    assert(codes.filter(col("vec_id") % 7 === 0).count() == 0)
    assert(idx.cells.filter(col("vec_id") % 7 === 0).count() == 0)
    assert(codes.count() == idx.cells.count())
    // ADC probe over the post-delete index never surfaces deleted ids
    // (deterministic id filter — a limit() here evaluates per-branch
    // inside adcShortlist and can pick disjoint rows, emptying joins)
    val q = inc.filter(col("vec_id").isin(5L, 10L, 15L))
    val out = IvfIndexStore.adcShortlist(idx, q, nprobe = 4,
      shortlistL = 10, topK = 3)
      .select("nid").collect().map(_.getLong(0))
    assert(out.nonEmpty && !out.exists(_ % 7 == 0))
    SimilarityOps.releaseCaches()
  }

  test("retrain excludes tombstoned vectors from its training corpus " +
      "and the fresh record carries no T lines") {
    val root = freshRoot("deleteretrain")
    IvfIndexStore.save(root, corpus, 32)
    IvfIndexStore.append(spark, root, inc)
    IvfIndexStore.delete(spark, root,
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"))
    val v4 = IvfIndexStore.retrain(spark, root)
    val idx = IvfIndexStore.loadAt(spark, root, v4)
    val live = emb.filter(col("vec_id") % 7 =!= 0)
    val kNew = math.max(32L, live.count() / 64L).toInt
    assert(idx.k == kNew)
    val seeds = live.orderBy(xxhash64(col("vec_id"))).limit(kNew)
      .select("vec_id", "v", "n2")
    val cents = SimilarityOps.ivfCentroids(live, kNew, 1, Some(seeds))
    assert(cellRows(idx.cells) ==
      cellRows(SimilarityOps.ivfCells(live, cents)))
    val rec = Files.readString(Paths.get(root, "_commits",
      f"v$v4%020d")).trim
    assert(!rec.linesIterator.exists(_.startsWith("T\t")))
  }

  test("retrain keeps both replay-tag channels and writes the PQ " +
      "header in save's order, so a replayed saga delete no-ops") {
    val root = freshRoot("retraintags")
    val attrs = emb.select(col("vec_id"), (col("vec_id") % 3).as("label"))
    IvfIndexStore.save(root, corpus, 32,
      attrs = Some(attrs.join(corpus.select("vec_id"), Seq("vec_id"))),
      pq = Some(IvfIndexStore.Pq(m = 4, ksub = 16, residual = true,
        rowGroupBytes = 16384)))
    IvfIndexStore.append(spark, root, inc, tag = Some(3L),
      attrs = Some(attrs.join(inc.select("vec_id"), Seq("vec_id"))))
    val gone = emb.filter(col("vec_id") % 7 === 0).select("vec_id")
    IvfIndexStore.delete(spark, root, gone, tag = Some(4L),
      tagKey = "tdtag")
    val v4 = IvfIndexStore.retrain(spark, root)
    val kNew = math.max(32L,
      emb.filter(col("vec_id") % 7 =!= 0).count() / 64L).toInt
    val header = Files.readString(Paths.get(root, "_commits",
      f"v$v4%020d")).linesIterator.next()
    assert(header == s"#ivf k=$kNew p=${IvfIndexStore.defaultBuckets(kNew)} " +
      "m=4 sd=16 ks=16 rg=16384 res=1 ap=8 tag=3 tdtag=4")
    // the saga's replayed batch sees its watermark: no new version
    assert(IvfIndexStore.delete(spark, root, gone, tag = Some(4L),
      tagKey = "tdtag") == v4)
    assert(IvfIndexStore.latestVersion(root) == v4)
    SimilarityOps.releaseCaches()
  }

  test("appends validate the increment's vector dimension against " +
      "the index (a schema-drifted shard fails before staging)") {
    import spark.implicits._
    val root = freshRoot("dimcheck")
    IvfIndexStore.save(root, corpus, 32)
    val drifted = Seq((100000L, Seq(1L, 2L, 3L), 14L))
      .toDF("vec_id", "v", "n2")
    val e = intercept[IllegalArgumentException](
      IvfIndexStore.append(spark, root, drifted))
    assert(e.getMessage.contains("dim"))
    // nothing staged, nothing committed
    assert(IvfIndexStore.latestVersion(root) == 1L)
    // same guard on the PQ path (m × subDim from the record)
    val rootPq = freshRoot("dimcheckpq")
    IvfIndexStore.save(rootPq, corpus, 32,
      pq = Some(IvfIndexStore.Pq(m = 4, ksub = 16)))
    val e2 = intercept[IllegalArgumentException](
      IvfIndexStore.append(spark, rootPq, drifted))
    assert(e2.getMessage.contains("dim"))
    // an empty increment is a NO-OP on both paths (staging it would
    // write a schema-less partitionBy dir and brick later loads)
    assert(IvfIndexStore.append(spark, root, corpus.limit(0)) == 1L)
    assert(IvfIndexStore.append(spark, rootPq, corpus.limit(0)) == 1L)
    assert(IvfIndexStore.load(spark, root).cells.count() ==
      corpus.count())
  }

  test("record text is pinned: save and append of flat, attr-flagged " +
      "and PQ indexes write the same header keys and dir tags as " +
      "ever, so older roots keep loading") {
    val attrs = emb.select(col("vec_id"), (col("vec_id") % 3).as("label"))
    def attrsOf(df: DataFrame) =
      Some(attrs.join(df.select("vec_id"), Seq("vec_id")))
    val uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}".r
    def rec(root: String, v: Long): Seq[String] =
      uuid.replaceAllIn(Files.readString(
        Paths.get(root, "_commits", f"v$v%020d")).trim, "U").linesIterator.toSeq
    def check(tag: String, withAttrs: Boolean,
        pq: Option[IvfIndexStore.Pq], v1: Seq[String], v2: Seq[String]) = {
      val root = freshRoot(s"rec_$tag")
      IvfIndexStore.save(root, corpus, 32,
        attrs = if (withAttrs) attrsOf(corpus) else None, pq = pq)
      assert(rec(root, 1L) == v1, tag)
      IvfIndexStore.append(spark, root, inc, tag = Some(3L),
        attrs = if (withAttrs) attrsOf(inc) else None)
      assert(rec(root, 2L) == v2, tag)
    }
    val (c, b, d, q, a) = ("C\tU/centroids", "B\tU/books", "D\tU/cells",
      "Q\tU/codes", "A\tU/attrs")
    check("flat", false, None,
      Seq("#ivf k=32 p=8", c, d),
      Seq("#ivf k=32 p=8 tag=3", c, d, d))
    check("attrs", true, None,
      Seq("#ivf k=32 p=8 ap=8", c, d, a),
      Seq("#ivf k=32 p=8 ap=8 tag=3", c, d, a, d, a))
    check("pq", false, Some(IvfIndexStore.Pq(m = 4, ksub = 16)),
      Seq("#ivf k=32 p=8 m=4 sd=16 ks=16", c, b, d, q),
      Seq("#ivf k=32 p=8 m=4 sd=16 ks=16 tag=3", c, b, d, q, d, q))
    check("pq_all", true, Some(IvfIndexStore.Pq(m = 4, ksub = 16,
        residual = true, rowGroupBytes = 16384)),
      Seq("#ivf k=32 p=8 m=4 sd=16 ks=16 rg=16384 res=1 ap=8",
        c, b, d, q, a),
      Seq("#ivf k=32 p=8 m=4 sd=16 ks=16 rg=16384 res=1 ap=8 tag=3",
        c, b, d, q, a, d, q, a))
    SimilarityOps.releaseCaches()
  }

  test("a catalog reader pointed at an index root fails loudly " +
      "(record formats are disjoint)") {
    val root = freshRoot("disjoint")
    IvfIndexStore.save(root, corpus, 32)
    val e = intercept[IllegalStateException](
      TxLog.snapshot(root))
    assert(e.getMessage.contains("manifest"))
  }
}
