package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.{ConnectedComponents, DedupOps, MinhashIndexStore}
import graft.streaming.DedupIngestStream

/** One (doc_id, text) arrival for the ingest stream. */
case class IngestDoc(doc_id: Long, text: String)

/** The always-on dedup ingest ([[graft.streaming.DedupIngestStream]]):
  * micro-batched shards maintain the SAME persisted labeled index the
  * batch queries read, labels stay exactly the from-scratch CC across
  * wave boundaries, and a replayed batch (the foreachBatch restart
  * contract) is a no-op through the record tag. */
class DedupIngestStreamSpec extends SparkTestBase {
  import spark.implicits._

  // the MinhashIndexSpec bridge construction (pinned there): A and B
  // are separate clusters, C near-dups BOTH
  private val w = (1 to 36).map(i => s"v0t$i")
  private val dA = w.slice(0, 26).mkString(" ")
  private val dB = w.slice(10, 36).mkString(" ")
  private val dC = w.slice(5, 31).mkString(" ")
  private val dX = "totally unrelated words nine ten eleven twelve"

  private def shingled(rows: Seq[(Long, String)]) =
    DedupOps.shingleDocs(rows.toDF("doc_id", "text"))

  private def fullCc(rows: Seq[(Long, String)]): Set[(Long, Long)] = {
    val sh = shingled(rows)
    ConnectedComponents.labels(sh.select("doc_id"),
        DedupOps.lshVerifiedPairs(sh)
          .select(col("d1").as("u"), col("d2").as("v")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def labelsAt(root: String): Set[(Long, Long)] =
    MinhashIndexStore
      .resolvedLabels(MinhashIndexStore.load(spark, root))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("streamed shards maintain the labeled index across waves: " +
      "resolved labels equal the from-scratch CC after every wave") {
    val corpus = Seq((2L, dA), (3L, dB))
    val root = Files.createTempDirectory("ingest_stream").toString
    val corpusSh = shingled(corpus)
    MinhashIndexStore.save(root, corpusSh,
      Some(ConnectedComponents.labels(corpusSh.select("doc_id"),
        DedupOps.lshVerifiedPairs(corpusSh)
          .select(col("d1").as("u"), col("d2").as("v")))))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IngestDoc]
    val q = DedupIngestStream.run(input.toDF(), root,
      Files.createTempDirectory("ingest_chk").toString)
    try {
      // wave 1: the bridge — merges clusters {2} and {3}
      input.addData(IngestDoc(5L, dC))
      q.processAllAvailable()
      assert(labelsAt(root) == fullCc(corpus :+ (5L -> dC)))
      // wave 2: a smaller-id exact dup (lowers the merged minimum —
      // the forwarding re-point path) plus an unrelated singleton
      input.addData(IngestDoc(1L, dA), IngestDoc(9L, dX))
      q.processAllAvailable()
      val all = corpus ++ Seq(5L -> dC, 1L -> dA, 9L -> dX)
      val got = labelsAt(root)
      assert(got == fullCc(all), s"got $got")
      assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 1L),
        (9L, 9L)))
    } finally q.stop()
    DedupOps.releaseCaches()
  }

  test("a replayed batch is a no-op: same batchId re-ingested " +
      "changes neither the version nor the labels") {
    val corpus = Seq((2L, dA), (3L, dB))
    val root = Files.createTempDirectory("ingest_replay").toString
    val corpusSh = shingled(corpus)
    MinhashIndexStore.save(root, corpusSh,
      Some(ConnectedComponents.labels(corpusSh.select("doc_id"),
        DedupOps.lshVerifiedPairs(corpusSh)
          .select(col("d1").as("u"), col("d2").as("v")))))
    val batch = Seq(5L -> dC).toDF("doc_id", "text")
    val v2 = DedupIngestStream.processBatch(root, batch, batchId = 0L)
    val before = labelsAt(root)
    // the crash-replay twin: the stream re-runs batch 0 after a
    // restart with the same rows
    val vReplay = DedupIngestStream.processBatch(root, batch, 0L)
    assert(vReplay == v2, "replay must not commit a new version")
    assert(labelsAt(root) == before)
    // the NEXT batch still ingests
    val v3 = DedupIngestStream.processBatch(root,
      Seq(9L -> dX).toDF("doc_id", "text"), 1L)
    assert(v3 == v2 + 1)
    assert(labelsAt(root).contains((9L, 9L)))
    DedupOps.releaseCaches()
  }

  test("from-scratch stream: save over an EMPTY labeled corpus, " +
      "then the first waves build the index") {
    val root = Files.createTempDirectory("ingest_scratch").toString
    val empty = shingled(Seq.empty)
    MinhashIndexStore.save(root, empty,
      Some(empty.select(col("doc_id"),
        col("doc_id").as("cluster_id"))))
    DedupIngestStream.processBatch(root,
      Seq(2L -> dA, 3L -> dB).toDF("doc_id", "text"), 0L)
    DedupIngestStream.processBatch(root,
      Seq(5L -> dC).toDF("doc_id", "text"), 1L)
    val got = labelsAt(root)
    assert(got == fullCc(Seq(2L -> dA, 3L -> dB, 5L -> dC)),
      s"got $got")
    DedupOps.releaseCaches()
  }

  test("vacuumEvery keeps a long-running dedup stream's history " +
      "bounded (and the live labels exact)") {
    val corpus = Seq((2L, dA), (3L, dB))
    val root = Files.createTempDirectory("ingest_vac").toString
    val corpusSh = shingled(corpus)
    MinhashIndexStore.save(root, corpusSh,
      Some(ConnectedComponents.labels(corpusSh.select("doc_id"),
        DedupOps.lshVerifiedPairs(corpusSh)
          .select(col("d1").as("u"), col("d2").as("v")))))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IngestDoc]
    val q = DedupIngestStream.run(input.toDF(), root,
      Files.createTempDirectory("ingest_vac_chk").toString,
      vacuumEvery = 1, vacuumKeep = 2)
    try {
      Seq(IngestDoc(5L, dC), IngestDoc(1L, dA), IngestDoc(9L, dX))
        .foreach { d =>
          input.addData(d)
          q.processAllAvailable()
        }
    } finally q.stop()

    // three ingests = three commits past the save, but retention
    // holds at vacuumKeep
    val recs = Files.list(
      java.nio.file.Paths.get(root, "_commits")).iterator()
    var n = 0
    while (recs.hasNext) {
      if (recs.next().getFileName.toString.startsWith("v")) n += 1
    }
    assert(n == 2, s"retention must hold at vacuumKeep: $n records")
    // the live version's labels are still the exact from-scratch CC
    val all = corpus ++ Seq(5L -> dC, 1L -> dA, 9L -> dX)
    assert(labelsAt(root) == fullCc(all))
    DedupOps.releaseCaches()
  }

  test("compactEvery keeps the manifest's dir-union width bounded " +
      "across an always-on stream (and the live labels exact)") {
    val corpus = Seq((2L, dA), (3L, dB))
    val root = Files.createTempDirectory("ingest_cmp").toString
    val corpusSh = shingled(corpus)
    MinhashIndexStore.save(root, corpusSh,
      Some(ConnectedComponents.labels(corpusSh.select("doc_id"),
        DedupOps.lshVerifiedPairs(corpusSh)
          .select(col("d1").as("u"), col("d2").as("v")))))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IngestDoc]
    val q = DedupIngestStream.run(input.toDF(), root,
      Files.createTempDirectory("ingest_cmp_chk").toString,
      compactEvery = 2)
    try {
      // batchIds 0..4; compact fires after batches 2 and 4, so the
      // live manifest ends freshly folded
      Seq(IngestDoc(5L, dC), IngestDoc(1L, dA), IngestDoc(9L, dX),
        IngestDoc(11L, dB), IngestDoc(13L, dX))
        .foreach { d =>
          input.addData(d)
          q.processAllAvailable()
        }
    } finally q.stop()

    val (_, rec) = graft.ops.ArtifactLog.latest(root, "mh")
    assert(rec.dirsOf("B").size == 1 && rec.dirsOf("S").size == 1 &&
      rec.dirsOf("L").size == 1,
      s"post-compact manifest must be one dir family: ${rec.dirs}")
    // folding changed nothing observable: labels are still the exact
    // from-scratch CC over everything ingested
    val all = corpus ++
      Seq(5L -> dC, 1L -> dA, 9L -> dX, 11L -> dB, 13L -> dX)
    assert(labelsAt(root) == fullCc(all))
    DedupOps.releaseCaches()
  }

  test("a batch processed on the caller's thread frees only its own " +
      "frames: the caller's dedup caches stay cached") {
    val df = Registry.byName("d_jaccard_prefix_capped").run(spark, sf001)
    assert(df.count() > 0) // materializes the query's cached frames
    val callers = spark.sparkContext.getPersistentRDDs.keySet
    val root = Files.createTempDirectory("ingest_scope").toString
    val corpusSh = shingled(Seq((2L, dA), (3L, dB)))
    MinhashIndexStore.save(root, corpusSh,
      Some(corpusSh.select(col("doc_id"), col("doc_id").as("cluster_id"))))
    DedupIngestStream.processBatch(root,
      Seq(5L -> dC).toDF("doc_id", "text"), 0L)
    val lost = callers -- spark.sparkContext.getPersistentRDDs.keySet
    assert(lost.isEmpty, s"the batch unpersisted the caller's RDDs $lost")
    DedupOps.releaseCaches()
  }
}
