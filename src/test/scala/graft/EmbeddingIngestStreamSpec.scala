package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.{IvfIndexStore, SimilarityOps}
import graft.streaming.EmbeddingIngestStream

/** One (vec_id, embedding) arrival for the embedding ingest stream. */
case class IngestVec(vec_id: Long, embedding: Array[Float])

/** The always-on embedding ingest
  * ([[graft.streaming.EmbeddingIngestStream]]): streamed shards
  * append to the persisted IVF index on frozen centroids, the
  * resulting cells equal the batch assignment of the same vectors,
  * and a replayed batch is a no-op through the record tag. */
class EmbeddingIngestStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def emb = SimilarityOps.quantized(spark, sf001)

  private def rawVecs(pred: org.apache.spark.sql.Column): Seq[IngestVec] =
    core.t(spark, sf001, "embeddings").filter(pred)
      .select("vec_id", "embedding").collect()
      .map(r => IngestVec(r.getLong(0),
        r.getSeq[Float](1).toArray)).toSeq

  test("streamed appends equal the batch assignment across waves, " +
      "and the stream survives a replay") {
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val root = Files.createTempDirectory("emb_stream").toString
    IvfIndexStore.save(root, corpus, 32)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IngestVec]
    val q = EmbeddingIngestStream.run(input.toDF(), root,
      Files.createTempDirectory("emb_chk").toString)
    try {
      input.addData(rawVecs(col("vec_id") % 10 === 0))
      q.processAllAvailable()
      input.addData(rawVecs(col("vec_id") % 5 === 0 &&
        col("vec_id") % 10 =!= 0))
      q.processAllAvailable()
    } finally q.stop()

    val idx = IvfIndexStore.load(spark, root)
    val expected = SimilarityOps
      .ivfCells(emb, idx.centroids)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = idx.cells.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)

    // replay twin: re-running the LAST batch (id 1) through the
    // foreachBatch body is a no-op on the version
    val vNow = IvfIndexStore.latestVersion(root)
    val vReplay = EmbeddingIngestStream.processBatch(root,
      rawVecs(col("vec_id") % 5 === 0 && col("vec_id") % 10 =!= 0)
        .toDF(), 1L)
    assert(vReplay == vNow, "replayed batch must not commit")
    assert(IvfIndexStore.load(spark, root).cells.count() ==
      emb.count())
    SimilarityOps.releaseCaches()
  }

  test("the armed drift monitor fires on its cadence when a " +
      "concentrated regime crowds the frozen cells — and stays " +
      "quiet for in-distribution ingest") {
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val root = Files.createTempDirectory("emb_drift").toString
    IvfIndexStore.save(root, corpus, 32)

    // drifted arrivals: every component shifted by a large constant
    // (the BASELINE.md round-12 drift regime) — all of them land in
    // one frozen cell
    def driftedBatch(off: Long): Seq[IngestVec] =
      rawVecs(col("vec_id") >= 0).map(v => IngestVec(
        v.vec_id + off, v.embedding.map(_ + 1.5f)))

    implicit val sqlCtx = spark.sqlContext
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    var lastStats: Option[IvfIndexStore.DriftStats] = None
    val input = MemoryStream[IngestVec]
    val q = EmbeddingIngestStream.run(input.toDF(), root,
      Files.createTempDirectory("emb_drift_chk").toString,
      monitorEvery = 2,
      onDrift = s => { fired.incrementAndGet(); lastStats = Some(s) })
    try {
      input.addData(driftedBatch(10000L)) // batch 0: monitored
      q.processAllAvailable()
      input.addData(driftedBatch(20000L)) // batch 1: cadence skips
      q.processAllAvailable()
    } finally q.stop()

    assert(fired.get() == 1,
      "batch 0 (on cadence, drifted) must fire; batch 1 (off " +
        s"cadence) must not — fired ${fired.get()} times")
    assert(lastStats.exists(_.imbalance > 8.0), s"stats: $lastStats")

    // quiet twin: in-distribution ingest monitored EVERY batch never
    // fires
    val root2 = Files.createTempDirectory("emb_quiet").toString
    IvfIndexStore.save(root2, corpus, 32)
    val fired2 = new java.util.concurrent.atomic.AtomicInteger(0)
    val input2 = MemoryStream[IngestVec]
    val q2 = EmbeddingIngestStream.run(input2.toDF(), root2,
      Files.createTempDirectory("emb_quiet_chk").toString,
      monitorEvery = 1,
      onDrift = _ => { fired2.incrementAndGet(); () })
    try {
      input2.addData(rawVecs(col("vec_id") % 5 === 0))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(fired2.get() == 0,
      "in-distribution ingest must not trip the drift trigger")
    SimilarityOps.releaseCaches()
  }

  test("a PQ head routes streamed shards through appendPq: codes " +
      "land with the cells, equal the frozen-book batch encode, and " +
      "a replay is still a no-op") {
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val root = Files.createTempDirectory("emb_pq_stream").toString
    IvfIndexStore.save(root, corpus, 32,
      pq = Some(IvfIndexStore.Pq(m = 4, ksub = 16)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IngestVec]
    val q = EmbeddingIngestStream.run(input.toDF(), root,
      Files.createTempDirectory("emb_pq_chk").toString)
    try {
      input.addData(rawVecs(col("vec_id") % 10 === 0))
      q.processAllAvailable()
      input.addData(rawVecs(col("vec_id") % 5 === 0 &&
        col("vec_id") % 10 =!= 0))
      q.processAllAvailable()
    } finally q.stop()

    val idx = IvfIndexStore.load(spark, root).pq.get
    // every ingested vector carries a code — the shards were NOT
    // stranded flat — and the codes equal the frozen-book encode
    assert(idx.codes.count() == emb.count())
    val expected = SimilarityOps
      .pqEncode(emb, idx.books, 4, 16)
      .select("vec_id", "code").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toVector)).toSet
    val got = idx.codes.select("vec_id", "code").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toVector)).toSet
    assert(got == expected)

    val vNow = IvfIndexStore.latestVersion(root)
    val vReplay = EmbeddingIngestStream.processBatch(root,
      rawVecs(col("vec_id") % 5 === 0 && col("vec_id") % 10 =!= 0)
        .toDF(), 1L)
    assert(vReplay == vNow, "replayed PQ batch must not commit")
    SimilarityOps.releaseCaches()
  }

  test("drift-triggered retrain racing an in-flight stream batch: " +
      "the conflict PROPAGATES, the retry succeeds, no vector lost") {
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val root = Files.createTempDirectory("emb_race").toString
    IvfIndexStore.save(root, corpus, 32,
      pq = Some(IvfIndexStore.Pq(m = 4, ksub = 16)))

    // the drifted regime from the monitor test — drives needsRetrain
    def driftedBatch(off: Long): Seq[IngestVec] =
      rawVecs(col("vec_id") >= 0).map(v => IngestVec(
        v.vec_id + off, v.embedding.map(_ + 1.5f)))

    implicit val sqlCtx = spark.sqlContext
    var drifted: Option[IvfIndexStore.DriftStats] = None
    val input = MemoryStream[IngestVec]
    val q = EmbeddingIngestStream.run(input.toDF(), root,
      Files.createTempDirectory("emb_race_chk").toString,
      monitorEvery = 1, onDrift = s => { drifted = Some(s) })
    try {
      input.addData(driftedBatch(10000L)) // batch 0: trips the monitor
      q.processAllAvailable()
      assert(drifted.isDefined, "the drift monitor must have fired")

      // the deployment schedules retrain OUT OF BAND — here it races
      // the stream: batch 1 lands between retrain's staging and its
      // CAS (the preCommitHook seam pushes it through the SAME
      // foreachBatch body the live stream runs)
      val late = driftedBatch(20000L)
      val e = intercept[graft.catalog.TxLog.CommitConflict] {
        IvfIndexStore.retrain(spark, root,
          preCommitHook = _ => {
            EmbeddingIngestStream.processBatch(root, late.toDF(), 1L)
            ()
          })
      }
      assert(e != null)
      // nothing lost: the interleaved batch's vectors are committed
      val between = IvfIndexStore.load(spark, root).pq.get
      assert(between.codes.filter(col("vec_id") >= 20000L).count() ==
        late.size)

      // the retry trains on the post-append corpus and succeeds
      IvfIndexStore.retrain(spark, root)
      val idx = IvfIndexStore.load(spark, root)
      val total = corpus.count() + 2 * late.size
      assert(idx.cells.count() == total,
        "no vector may be lost across the raced retrain")
      assert(idx.pq.get.codes.count() == total,
        "the PQ layer must survive the retrain with every code")
      assert(idx.k ==
        math.max(32L, total / 64L).toInt)

      // the stream's OWN batch 1 now replays as a no-op (the injected
      // call committed tag 1 — at-least-once semantics held across
      // the race), and later batches ingest on the NEW generation
      assert(EmbeddingIngestStream.processBatch(root,
        late.toDF(), 1L) == IvfIndexStore.latestVersion(root))
      EmbeddingIngestStream.processBatch(root,
        driftedBatch(30000L).toDF(), 2L)
      assert(IvfIndexStore.load(spark, root).cells.count() ==
        total + late.size)
    } finally q.stop()
    SimilarityOps.releaseCaches()
  }

  test("vacuumEvery keeps a long-running stream's history bounded " +
      "(and the live index complete)") {
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val root = Files.createTempDirectory("emb_vac").toString
    IvfIndexStore.save(root, corpus, 32)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IngestVec]
    val q = EmbeddingIngestStream.run(input.toDF(), root,
      Files.createTempDirectory("emb_vac_chk").toString,
      vacuumEvery = 1, vacuumKeep = 2)
    try {
      Seq(0L, 1L, 2L, 3L).foreach { i =>
        input.addData(rawVecs(col("vec_id") % 20 === i * 5L))
        q.processAllAvailable()
      }
    } finally q.stop()

    // four batches = four commits, but retention holds at vacuumKeep
    val recs = Files.list(
      java.nio.file.Paths.get(root, "_commits")).iterator()
    var n = 0
    while (recs.hasNext) {
      if (recs.next().getFileName.toString.startsWith("v")) n += 1
    }
    assert(n == 2, s"retention must hold at vacuumKeep: $n records")
    // the live version still reads the full corpus ∪ all shards
    assert(IvfIndexStore.load(spark, root).cells.count() == emb.count())
    SimilarityOps.releaseCaches()
  }

  test("compactEvery folds the accreted shard dirs on its cadence " +
      "(and the live index stays complete)") {
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val root = Files.createTempDirectory("emb_cmp").toString
    IvfIndexStore.save(root, corpus, 32)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IngestVec]
    val q = EmbeddingIngestStream.run(input.toDF(), root,
      Files.createTempDirectory("emb_cmp_chk").toString,
      compactEvery = 2)
    try {
      // batchIds 0..4; compact fires after batches 2 and 4
      (0L to 4L).foreach { i =>
        input.addData(rawVecs(col("vec_id") % 25 === i * 5L))
        q.processAllAvailable()
      }
    } finally q.stop()

    val (_, rec) = graft.ops.ArtifactLog.latest(root, "ivf")
    assert(rec.dirsOf("D").size == 1,
      s"post-compact manifest must be one cells dir: ${rec.dirs}")
    // folding changed nothing observable
    assert(IvfIndexStore.load(spark, root).cells.count() ==
      corpus.count() + emb.filter(col("vec_id") % 5 === 0).count())
    SimilarityOps.releaseCaches()
  }

  test("an empty batch burns no version") {
    val root = Files.createTempDirectory("emb_empty").toString
    IvfIndexStore.save(root, emb.filter(col("vec_id") % 5 =!= 0), 32)
    val v1 = IvfIndexStore.latestVersion(root)
    val v = EmbeddingIngestStream.processBatch(root,
      Seq.empty[IngestVec].toDF(), 0L)
    assert(v == v1 && IvfIndexStore.latestVersion(root) == v1)
  }

  test("a batch processed on the caller's thread frees only its own " +
      "frames: the caller's checkpointed ANN query still runs") {
    // the recall query's output reads cached edge frames built over
    // localCheckpointed intermediates, which cannot recompute — a
    // batch that dropped them would make the action throw
    val df = Registry.byName("s_knn_ann_recall").run(spark, sf001)
    val root = Files.createTempDirectory("emb_scope").toString
    IvfIndexStore.save(root, emb.filter(col("vec_id") % 5 =!= 0), 32)
    EmbeddingIngestStream.processBatch(root,
      rawVecs(col("vec_id") % 10 === 0).toDF(), 0L)
    assert(df.count() > 0)
    SimilarityOps.releaseCaches()
  }
}
