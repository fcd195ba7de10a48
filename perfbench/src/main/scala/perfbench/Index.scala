package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ops.{ConnectedComponents, DedupOps, IvfIndexStore, MinhashIndexStore, SimilarityOps}
import graft.streaming.{DedupIngestStream, EmbeddingIngestStream}

/** `index`: the write path of the persisted index stores, as two
  * streams on one session (the production shape of many streams on one
  * application). One operation is one round in which both streams
  * commit, one after the other on the driver thread: a document shard
  * through `DedupIngestStream.processBatch` into a labelled MinHash
  * index, then an embedding shard through
  * `EmbeddingIngestStream.processBatch` into an IVF index. Every other
  * round is a takedown in both stores (`delete`) instead. The round's
  * latency is the sum of the two commits, so a change to either store
  * moves it; concurrent commits would time only the slower one. A run
  * ends on a whole ingest + takedown pair, so every run measures the
  * same mix.
  *
  * Maintenance follows the streams' own `run` loops: after ingest batch
  * b, compact when b % 32 == 0 (the low end of the 32-128 cadence the
  * streams document) and vacuum (keep 2, no grace: the benchmark owns
  * the roots) when b % 8 == 0 (the cadence `FrontierProbe` gives its
  * catalog sink). The base `save` in set-up is batch 0, so a run's few
  * ingest batches reach neither; the traced run times one compaction
  * and one vacuum of each store after the window instead.
  *
  * The seed varies each shard's near-duplicate share (cluster merges
  * and forwarding entries per commit) and each takedown's share of
  * cluster-bridging docs (component splits per delete). */
final class Index(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  private val docShard = 24
  private val docDeletes = 6
  private val vecShard = 64
  private val vecDeletes = 16
  private val ivfCells = 16

  private var docs: DocGen = _
  private var vecs: VecGen = _
  private var mhRoot: File = _
  private var ivfRoot: File = _
  private val liveDocs = mutable.LinkedHashSet.empty[Long]
  private val liveVecs = mutable.LinkedHashSet.empty[Long]
  private val compactEvery = 32
  private val vacuumEvery = 8

  private var rounds = 0
  private var batchId = 0L
  private var versions0 = 0L
  private var rounds0 = 0

  override def opsPerRound: Int = 2

  private def labelsFor(ids: Seq[(Long, String)]) = {
    val sh = DedupOps.shingleDocs(ids.toDF("doc_id", "text"))
    (sh, ConnectedComponents.labels(sh.select("doc_id"),
      DedupOps.lshVerifiedPairs(sh).select(col("d1").as("u"), col("d2").as("v"))))
  }

  def setup(root: File): Unit = {
    docs = new DocGen(seed)
    vecs = new VecGen(seed)
    mhRoot = new File(root, "minhash")
    ivfRoot = new File(root, "ivf")
    liveDocs.clear(); liveVecs.clear()
    rounds = 0
    batchId = 0L
    val corpus = docs.shard(150, withBridge = false) ++
      (0 until 8).flatMap(_ => docs.bridgeFamily())
    val (sh, labels) = labelsFor(corpus)
    try MinhashIndexStore.save(mhRoot.getPath, sh, Some(labels))
    finally DedupOps.releaseCaches()
    liveDocs ++= corpus.map(_._1)
    val base = vecs.batch(600)
    try IvfIndexStore.save(ivfRoot.getPath,
      SimilarityOps.quantizeEmbeddings(base.toDF("vec_id", "embedding")), ivfCells)
    finally SimilarityOps.releaseCaches()
    liveVecs ++= base.map(_._1)
  }

  private def takedown(n: Int): Boolean = n % 2 == 0

  def op(): Long = {
    rounds += 1
    if (takedown(rounds)) docDelete() + vecDelete()
    else {
      batchId += 1
      val r = docIngest() + vecIngest()
      maintain()
      r
    }
  }

  /** The streams' in-loop maintenance after ingest batch `batchId`. */
  private def maintain(): Unit = {
    if (batchId % compactEvery == 0) compact()
    if (batchId % vacuumEvery == 0) vacuum()
  }

  private def compact(): Unit = {
    try MinhashIndexStore.compact(spark, mhRoot.getPath)
    finally DedupOps.releaseCaches()
    try IvfIndexStore.compact(spark, ivfRoot.getPath)
    finally SimilarityOps.releaseCaches()
  }

  private def vacuum(): Unit = {
    MinhashIndexStore.vacuum(mhRoot.getPath, keep = 2, graceMs = 0L)
    IvfIndexStore.vacuum(ivfRoot.getPath, keep = 2, graceMs = 0L)
  }

  private def docIngest(): Long = {
    val shard = docs.shard(docShard, withBridge = true)
    Spans.span("ops.minhash_ingest") {
      DedupIngestStream.processBatch(mhRoot.getPath, shard.toDF("doc_id", "text"), batchId)
    }
    liveDocs ++= shard.map(_._1)
    shard.length
  }

  private def docDelete(): Long = {
    val ids = docs.victims(liveDocs, docDeletes)
    Spans.span("ops.minhash_delete") {
      try MinhashIndexStore.delete(spark, mhRoot.getPath, ids.toDF("doc_id"))
      finally DedupOps.releaseCaches()
    }
    liveDocs --= ids
    ids.length
  }

  private def vecIngest(): Long = {
    val shard = vecs.batch(vecShard)
    Spans.span("ops.ivf_append") {
      EmbeddingIngestStream.processBatch(ivfRoot.getPath,
        shard.toDF("vec_id", "embedding"), batchId)
    }
    liveVecs ++= shard.map(_._1)
    shard.length
  }

  private def vecDelete(): Long = {
    val live = liveVecs.toIndexedSeq
    val ids = Seq.fill(vecDeletes)(live(vecs.nextInt(live.length))).distinct
    Spans.span("ops.ivf_delete") {
      try IvfIndexStore.delete(spark, ivfRoot.getPath, ids.toDF("vec_id"))
      finally SimilarityOps.releaseCaches()
    }
    liveVecs --= ids
    ids.length
  }

  private def versions(): Long =
    MinhashIndexStore.latestVersion(mhRoot.getPath)._1 +
      IvfIndexStore.latestVersion(ivfRoot.getPath)

  override def beforeTimed(): Unit = {
    versions0 = versions()
    rounds0 = rounds
  }

  def check(): Seq[String] = {
    val survivors = docs.texts.toSeq.filter { case (id, _) => liveDocs(id) }
    val (_, expected) = labelsFor(survivors)
    val want = expected.as[(Long, Long)].collect().toSet
    val got = MinhashIndexStore.resolvedLabels(
      MinhashIndexStore.load(spark, mhRoot.getPath)).as[(Long, Long)].collect().toSet
    DedupOps.releaseCaches()
    val ivfIds = IvfIndexStore.load(spark, ivfRoot.getPath).cells
      .select("vec_id").as[Long].collect()
    Seq(
      if (got == want) None
      else Some(s"index: resolved labels differ from a from-scratch CC " +
        s"(${(got -- want).size} extra, ${(want -- got).size} missing)"),
      if (ivfIds.length == ivfIds.distinct.length && ivfIds.toSet == liveVecs.toSet) None
      else Some(s"index: live IVF ids (${ivfIds.length}) != inserted - deleted (${liveVecs.size})")
    ).flatten
  }

  def roots: Seq[File] = Seq(mhRoot, ivfRoot)

  /** Run after the checks: the maintenance a run's rounds do not reach
    * is timed here, on the stores as the run left them, per store. */
  override def gauges(): Map[String, Double] = {
    val g = Map(
      "ops.versions_per_op" ->
        (versions() - versions0).toDouble / math.max(1, rounds - rounds0),
      "ops.manifest_dirs" -> (Gen.manifestDirs(mhRoot) + Gen.manifestDirs(ivfRoot)).toDouble)
    val t0 = System.nanoTime()
    compact()
    val compactS = Main.secs(t0) / 2
    val t1 = System.nanoTime()
    vacuum()
    g ++ Map("ops.compact_s" -> compactS, "ops.vacuum_s" -> Main.secs(t1) / 2)
  }
}
