package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{IvfIndexStore, SimilarityOps}
import graft.ops.IvfIndexStore.Pq

/** The PQ layer of the persisted IVF index
  * ([[graft.ops.IvfIndexStore.save]] with a `pq`): save/load
  * exactness of the dense codebooks + packed codes, O(increment)
  * frozen-codebook appends, the IVFADC probe's bucket pruning on the
  * CODE scan, compaction of code shards, PQ-preserving retrain, and
  * the ADC probe's refusal of a flat index. Arithmetic correctness end-to-end
  * is gated by the DuckDB oracles (`s_ann_index_pq`,
  * `s_ann_index_pq_codes`); these tests pin the artifact mechanics. */
class IvfPqIndexSpec extends SparkTestBase {

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"ivfpqspec_$tag").toString

  private def emb: DataFrame = SimilarityOps.quantized(spark, sf001)
  private def corpus: DataFrame = emb.filter(col("vec_id") % 5 =!= 0)
  private def inc: DataFrame = emb.filter(col("vec_id") % 5 === 0)

  private val M = 4
  private val SubDim = 16
  private val Ksub = 16

  /** The PQ layer of the latest (or `version`) index at `root`. */
  private def pq(root: String, version: Option[Long] = None)
      : IvfIndexStore.PqLayer =
    version.fold(IvfIndexStore.load(spark, root))(
      IvfIndexStore.loadAt(spark, root, _)).pq.get

  private def codeRows(df: DataFrame): Set[(Long, Vector[Int])] =
    df.select("vec_id", "code").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toVector)).toSet

  private def bookRows(df: DataFrame): Set[(Int, Long, Vector[Long], Long)] =
    df.select("sub", "cid", "cv", "cvn2").collect()
      .map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Long](2).toVector, r.getLong(3))).toSet

  test("savePq → loadPq roundtrips books and codes bit-for-bit " +
      "against the in-memory recompute; dense ids are contiguous") {
    val root = freshRoot("roundtrip")
    val v = IvfIndexStore.save(root, corpus, 32, pq = Some(Pq(M, Ksub)))
    assert(v == 1L)
    val flat = IvfIndexStore.load(spark, root)
    val idx = flat.pq.get
    assert(idx.m == M && idx.subDim == SubDim && flat.version == 1L)

    val memBooks = SimilarityOps.pqCodebooks(corpus, M, SubDim, Ksub)
    assert(bookRows(idx.books) == bookRows(memBooks))
    val memCodes = SimilarityOps.pqEncode(corpus, memBooks, M, SubDim)
    assert(codeRows(idx.codes) == codeRows(memCodes))
    // dense per-subspace ids: 0..k'−1 contiguous in every subspace
    idx.books.groupBy("sub")
      .agg(min("cid").as("lo"), max("cid").as("hi"),
        count(lit(1)).as("n"))
      .collect().foreach { r =>
        assert(r.getLong(1) == 0L && r.getLong(2) == r.getLong(3) - 1,
          s"sub ${r.getInt(0)}: ids not dense")
      }
    // the flat layer underneath is the ordinary IVF-Flat index
    val cents = SimilarityOps.ivfCentroids(corpus, 32)
    assert(flat.cells.count() == corpus.count())
    assert(flat.centroids.count() == cents.count())
  }

  test("appendPq is O(increment): frozen books + centroids, one new " +
      "shard dir carrying only increment cells AND codes") {
    val root = freshRoot("append")
    IvfIndexStore.save(root, corpus, 32, pq = Some(Pq(M, Ksub)))
    val v1 = pq(root)
    val v2 = IvfIndexStore.append(spark, root, inc)
    assert(v2 == 2L)
    val idx2 = pq(root, Some(v2))

    // books byte-identical across the append
    assert(bookRows(v1.books) == bookRows(idx2.books))
    // codes = corpus encode ∪ frozen-book shard encode
    val expected = codeRows(v1.codes) ++
      codeRows(SimilarityOps.pqEncode(inc, v1.books, M, SubDim))
    assert(codeRows(idx2.codes) == expected)

    // exactly one new data dir, holding a cells + a codes table of
    // only increment rows
    val names = {
      val l = Files.list(Paths.get(root, "data")).iterator()
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (l.hasNext) b += l.next().getFileName.toString
      b
    }
    assert(names.size == 2, s"data dirs: $names")
    val shardDir = names.filterNot(n =>
      Files.exists(Paths.get(root, "data", n, "centroids"))).head
    val codes = spark.read.parquet(s"$root/data/$shardDir/codes")
    assert(codes.count() == inc.count())
    assert(codes.filter(col("vec_id") % 5 =!= 0).count() == 0)
    assert(spark.read.parquet(s"$root/data/$shardDir/cells")
      .count() == inc.count())
  }

  test("append on a PQ head commits a D and a Q dir under one uuid, " +
      "codes = the frozen-book encode; an ADC probe on a flat index " +
      "fails loudly") {
    val root = freshRoot("onepath")
    IvfIndexStore.save(root, corpus, 32, pq = Some(Pq(M, Ksub)))
    val books = pq(root).books
    val v2 = IvfIndexStore.append(spark, root, inc)
    val rec = Files.readString(
      Paths.get(root, "_commits", f"v$v2%020d")).trim
    val added = rec.linesIterator.drop(1).toSeq.drop(4) // C B D Q of v1
    assert(added.map(_.takeWhile(_ != '\t')) == Seq("D", "Q"), rec)
    val uuids = added.map(_.split("\t")(1).split("/")(0)).distinct
    assert(uuids.size == 1, s"one uuid per shard: $added")
    val shard = spark.read.parquet(s"$root/data/${uuids.head}/codes")
    assert(codeRows(shard) ==
      codeRows(SimilarityOps.pqEncode(inc, books, M, SubDim)))

    val rootFlat = freshRoot("guard_flat")
    IvfIndexStore.save(rootFlat, corpus, 32)
    val e = intercept[IllegalArgumentException](
      IvfIndexStore.adcShortlist(IvfIndexStore.load(spark, rootFlat),
        inc, nprobe = 4, shortlistL = 10, topK = 3))
    assert(e.getMessage.contains("no PQ layer"))
  }

  test("the ADC probe partition-prunes the code scan (never reading " +
      "vectors) and the re-rank reads vectors as pushed id lookups") {
    val root = freshRoot("prune")
    IvfIndexStore.save(root, corpus, 32, pq = Some(Pq(M, Ksub)))
    val idx = IvfIndexStore.load(spark, root)
    val q = inc.filter(col("vec_id") === 5L)
    // the candidate stage: codes scan bucket-pruned, and its
    // ReadSchema carries the packed code — never the raw vectors
    val (cand, _) = IvfIndexStore.adcCandidates(idx, q, nprobe = 4)
    val candPlan = cand.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*pb[^\\]]*\\]".r
        .findFirstIn(candPlan).isDefined,
      s"codes scan must carry a pb partition filter:\n$candPlan")
    assert(
      "ReadSchema: [^\\n]*code".r.findFirstIn(candPlan).isDefined &&
        !"ReadSchema: [^\\n]*code[^\\n]*v:".r.findFirstIn(candPlan)
          .isDefined,
      s"ADC must scan codes, not vectors:\n$candPlan")
    SimilarityOps.releaseCaches()
    // the full probe: the re-rank's cells scan is bucket-pruned AND
    // id-pushed (the IVFADC+R point fetch)
    val out = IvfIndexStore.adcShortlist(idx, q, nprobe = 4,
      shortlistL = 10, topK = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*pb[^\\]]*\\]".r
        .findFirstIn(plan).isDefined,
      s"re-rank cells scan must carry a pb partition filter:\n$plan")
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r
        .findFirstIn(plan).isDefined,
      s"re-rank must push the shortlist ids into the scan:\n$plan")
    assert(out.count() == 3)
    SimilarityOps.releaseCaches()
  }

  test("adcShortlist through disk equals the same IVFADC plan on " +
      "in-memory frames") {
    val root = freshRoot("equiv")
    IvfIndexStore.save(root, corpus, 32, pq = Some(Pq(M, Ksub)))
    val got = IvfIndexStore.adcShortlist(
        IvfIndexStore.load(spark, root), inc,
        nprobe = 4, shortlistL = 10, topK = 3)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet

    val cents = SimilarityOps.ivfCentroids(corpus, 32)
    val books = SimilarityOps.pqCodebooks(corpus, M, SubDim, Ksub)
    val cells = SimilarityOps.ivfCells(corpus, cents)
      .withColumn("pb", pmod(col("cell"), lit(8L)).cast("int"))
    val codes = SimilarityOps.pqEncode(cells, books, M, SubDim,
        carry = Seq("cell"))
      .withColumn("pb", pmod(col("cell"), lit(8L)).cast("int"))
    val mem = IvfIndexStore.IvfIndex(1L, 32, 8, broadcast(cents), cells,
      pq = Some(IvfIndexStore.PqLayer(M, SubDim, broadcast(books), codes)))
    val want = IvfIndexStore.adcShortlist(mem, inc,
        nprobe = 4, shortlistL = 10, topK = 3)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == want)
    SimilarityOps.releaseCaches()
  }

  test("compact folds cells AND code shards to one dir each with " +
      "identical content") {
    val root = freshRoot("compact")
    IvfIndexStore.save(root, corpus, 32, pq = Some(Pq(M, Ksub)))
    IvfIndexStore.append(spark, root, inc)
    val before = codeRows(pq(root).codes)
    val v3 = IvfIndexStore.compact(spark, root)
    val after = IvfIndexStore.load(spark, root)
    assert(codeRows(after.pq.get.codes) == before)
    assert(after.cells.count() == emb.count())
    val rec = Files.readString(
      Paths.get(root, "_commits", f"v$v3%020d")).trim
    assert(rec.linesIterator.count(_.startsWith("D\t")) == 1)
    assert(rec.linesIterator.count(_.startsWith("Q\t")) == 1)
  }

  test("rowGroupBytes is a persisted layout policy: the record " +
      "carries rg, appendPq inherits it, and content is unchanged") {
    val root = freshRoot("rg")
    IvfIndexStore.save(root, corpus, 32,
      pq = Some(Pq(M, Ksub, rowGroupBytes = 16 * 1024)))
    val rec1 = Files.readString(Paths.get(root, "_commits",
      f"v${1L}%020d")).trim
    assert(rec1.contains("rg=16384"), rec1)
    IvfIndexStore.append(spark, root, inc)
    val rec2 = Files.readString(Paths.get(root, "_commits",
      f"v${2L}%020d")).trim
    assert(rec2.contains("rg=16384"), rec2)
    // content identical to the default-layout twin
    val defRoot = freshRoot("rg_default")
    IvfIndexStore.save(defRoot, corpus, 32, pq = Some(Pq(M, Ksub)))
    IvfIndexStore.append(spark, defRoot, inc)
    val a = IvfIndexStore.load(spark, root)
    val b = IvfIndexStore.load(spark, defRoot)
    assert(codeRows(a.pq.get.codes) == codeRows(b.pq.get.codes))
    assert(a.cells.count() == b.cells.count())
    // and the small-row-group files really carry more groups: more
    // (or equal) files is not the claim — same file count, so assert
    // via total size parity (content equal) + the probe measures IO
    val out = IvfIndexStore.adcShortlist(a,
      inc.filter(col("vec_id") < 15), nprobe = 4,
      shortlistL = 10, topK = 3)
    assert(out.count() > 0)
    SimilarityOps.releaseCaches()
  }

  test("a same-tag commit race is caught INSIDE the rebase loop: " +
      "the loser returns the winner's version instead of " +
      "double-appending the batch's shard") {
    val root = freshRoot("tagrace")
    IvfIndexStore.save(root, corpus, 32, pq = Some(Pq(M, Ksub)))
    val shardA = inc.filter(col("vec_id") % 10 === 0)
    val shardB = inc.filter(col("vec_id") % 10 =!= 0)
    // zombie-driver shape: both writers replay STREAM BATCH 7; the
    // interleaved one commits between the outer's entry check and
    // its CAS, so the outer's rebase must see tag=7 and yield
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racing = new graft.catalog.CommitStore {
      def putIfAbsent(target: java.nio.file.Path,
          content: String): Boolean = {
        if (fired.compareAndSet(false, true))
          IvfIndexStore.append(spark, root, shardB, tag = Some(7L))
        graft.catalog.LinkCommitStore.putIfAbsent(target, content)
      }
    }
    val v = IvfIndexStore.append(spark, root, shardA, racing,
      tag = Some(7L))
    assert(v == 2L, s"loser must return the winner's version, got $v")
    assert(IvfIndexStore.latestVersion(root) == 2L,
      "the same tag must commit exactly once")
    // only the winner's shard landed; the loser's batch is NOT
    // duplicated (its vectors arrive when the stream re-runs the
    // NEXT batch — exactly the crash-replay contract)
    assert(pq(root).codes.count() == corpus.count() + shardB.count())
    SimilarityOps.releaseCaches()
  }

  test("retrain keeps the ksub codebook budget when the re-sized " +
      "coarse k falls below it (books get their own hash sample)") {
    val root = freshRoot("ksmall")
    IvfIndexStore.save(root, corpus, 32, pq = Some(Pq(M, Ksub)))
    IvfIndexStore.append(spark, root, inc)
    // force kNew=8 < ksub=16: the books must still train from a
    // 16-seed sample, not a truncated 8-seed one
    val v3 = IvfIndexStore.retrain(spark, root, k = Some(8))
    val idx = pq(root, Some(v3))
    val bookSeeds = emb.orderBy(xxhash64(col("vec_id"))).limit(Ksub)
      .select("vec_id", "v", "n2")
    val memBooks = SimilarityOps.pqCodebooks(emb, M, SubDim, Ksub, 1,
      Some(bookSeeds))
    assert(bookRows(idx.books) == bookRows(memBooks))
    // and the budget is visibly wider than the coarse k
    assert(idx.books.select("sub", "cid").distinct().count() >
      8L * M / 2, "books collapsed toward the coarse k")
  }

  test("retrain on a PQ head retrains the codebooks from the same " +
      "hash-sampled seeds and re-encodes — the layer survives, " +
      "params and replay tag intact") {
    val root = freshRoot("retrain")
    IvfIndexStore.save(root, corpus, 32, pq = Some(Pq(M, Ksub)))
    IvfIndexStore.append(spark, root, inc, tag = Some(3L))
    val v3 = IvfIndexStore.retrain(spark, root)
    val idx = pq(root, Some(v3))
    assert(idx.m == M && idx.subDim == SubDim)

    val kNew = math.max(32L, emb.count() / 64L).toInt
    val seeds = emb.orderBy(xxhash64(col("vec_id"))).limit(kNew)
      .select("vec_id", "v", "n2")
    val memBooks = SimilarityOps.pqCodebooks(emb, M, SubDim, Ksub, 1,
      Some(seeds.limit(Ksub)))
    assert(bookRows(idx.books) == bookRows(memBooks))
    assert(codeRows(idx.codes) ==
      codeRows(SimilarityOps.pqEncode(emb, memBooks, M, SubDim)))
    // replay of batch 3 still no-ops after the retrain
    assert(IvfIndexStore.append(spark, root, inc, tag = Some(3L)) == v3)
    // post-retrain appends encode on the NEW books
    val off = emb.agg(max("vec_id")).head().getLong(0) + 1
    val shard = inc.select((col("vec_id") + lit(off)).as("vec_id"),
      col("v"), col("n2"))
    val v4 = IvfIndexStore.append(spark, root, shard)
    val expected = codeRows(
      SimilarityOps.pqEncode(shard, idx.books, M, SubDim))
    assert(codeRows(pq(root, Some(v4)).codes
      .filter(col("vec_id") >= off)) == expected)
  }

  test("residual PQ: the flag persists, books/codes equal the " +
      "in-memory residual recompute, appends encode increment " +
      "residuals on frozen books, retrain re-anchors to new centroids") {
    val root = freshRoot("residual")
    IvfIndexStore.save(root, corpus, 32,
      pq = Some(Pq(M, Ksub, residual = true)))
    val loaded = IvfIndexStore.load(spark, root)
    val idx = loaded.pq.get
    assert(idx.residual, "res flag must roundtrip the record")

    // books/codes = the recompute over residuals to the trained
    // centroids (the whole difference from the raw path)
    val cents = SimilarityOps.ivfCentroids(corpus, 32)
    val resid = SimilarityOps.residuals(
      SimilarityOps.ivfCells(corpus, cents), cents)
    val memBooks = SimilarityOps.pqCodebooks(resid, M, SubDim, Ksub)
    assert(bookRows(idx.books) == bookRows(memBooks))
    assert(codeRows(idx.codes) ==
      codeRows(SimilarityOps.pqEncode(resid, memBooks, M, SubDim)))
    // residual codes genuinely differ from raw codes on this corpus
    // (otherwise the flag tests nothing)
    val rawBooks = SimilarityOps.pqCodebooks(corpus, M, SubDim, Ksub)
    assert(codeRows(idx.codes) !=
      codeRows(SimilarityOps.pqEncode(corpus, rawBooks, M, SubDim)))

    // frozen-book increment append encodes the increment's residuals
    val v2 = IvfIndexStore.append(spark, root, inc)
    val incResid = SimilarityOps.residuals(
      SimilarityOps.ivfCells(inc, cents), cents)
    assert(codeRows(pq(root, Some(v2)).codes
        .filter(col("vec_id") % 5 === 0)) ==
      codeRows(SimilarityOps.pqEncode(incResid, memBooks, M, SubDim)))

    // the ADC probe on the loaded residual index returns exactly
    // topK rows per query and never a query itself
    val q = inc.filter(col("vec_id").isin(5L, 10L, 15L))
    val out = IvfIndexStore.adcShortlist(loaded, q, nprobe = 4,
        shortlistL = 10, topK = 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 9 && !out.exists(p => p._1 == p._2))
    SimilarityOps.releaseCaches()

    // retrain keeps the residual layer and re-anchors books + codes
    // to the NEW centroids
    val v3 = IvfIndexStore.retrain(spark, root)
    val after = pq(root, Some(v3))
    assert(after.residual, "res flag must survive retrain")
    val kNew = math.max(32L, emb.count() / 64L).toInt
    val seeds = emb.orderBy(xxhash64(col("vec_id"))).limit(kNew)
      .select("vec_id", "v", "n2")
    val newCents = SimilarityOps.ivfCentroids(emb, kNew, 1, Some(seeds))
    val newResid = SimilarityOps.residuals(
      SimilarityOps.ivfCells(emb, newCents), newCents)
    val bookSeeds = newResid.orderBy(xxhash64(col("vec_id")))
      .limit(Ksub).select("vec_id", "v", "n2")
    val newBooks = SimilarityOps.pqCodebooks(newResid, M, SubDim, Ksub,
      1, Some(bookSeeds))
    assert(bookRows(after.books) == bookRows(newBooks))
    assert(codeRows(after.codes) ==
      codeRows(SimilarityOps.pqEncode(newResid, newBooks, M, SubDim)))
  }
}
