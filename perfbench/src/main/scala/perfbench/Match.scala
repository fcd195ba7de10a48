package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.api.CatalogApi
import graft.catalog.{PackageRow, TxLog}
import graft.matching.{Indexing, Matching}
import graft.ops.{ConnectedComponents, DedupOps, IvfIndexStore, MinhashIndexStore, SimilarityOps}

/** `match`: small read-only requests from one client, over artifacts
  * committed in set-up: a delta catalog, a labelled MinHash index, an
  * IVF index with an attribute sidecar, and exact/approximate
  * fingerprint indexes built by `Indexing` from generated scans. Every
  * request resolves its artifact's latest version, as a reader would.
  *
  * The IVF store is left the way the write path of [[Index]] leaves it
  * between compactions: a base `save` (the stream's batch 0), one
  * appended shard (batch 1) and one takedown. A reader therefore unions
  * the base dirs, a shard dir family and a tombstone, so a write-side
  * change that widens or narrows that union reaches the IVF requests
  * here. The MinHash store is a base `save` only: an ingested shard
  * (~2.8 s) and a takedown (~3 s) per set-up on a 4-core host, three
  * set-ups a run, do not fit the run budget.
  *
  * One operation is one cycle of eight requests, one of each type, in
  * a seeded order. The types differ in cost by 10×, so the median of
  * single requests would sit on the boundary between the cheap and
  * the dear half of the types and jump between runs; a cycle's latency
  * is one unimodal sample. The per-type times are per-layer metrics.
  * No request type runs in set-up, so one untimed cycle warms their
  * code paths before the window opens.
  *
  * The seed also varies which keys each request asks for (70% from a
  * small hot key set, the rest cold; many cold keys are absent from
  * the indexes, so they exercise the miss path) and the selectivity of
  * each filtered vector search (10-40% of vectors pass), drawn per
  * request from fixed distributions so runs on different seeds do
  * comparable work. */
final class Match(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  import Match._

  private val kinds = Seq("shortlist", "filtered", "verdicts", "exact",
    "approx", "checksum", "latest", "resolve")
  private val hotShare = 0.7
  private val topK = 10
  private val nprobe = 4
  private val cells = 16

  private var rnd: Random = _
  private var root: File = _
  private var pkgs: Seq[PackageRow] = Nil
  private var files: Seq[FileRow] = Nil
  private var dirs: Seq[DirRow] = Nil
  private var vecs: VecGen = _
  private var docs: DocGen = _
  private var qv: Map[Long, Array[Long]] = Map.empty
  private var vecIds: IndexedSeq[Long] = IndexedSeq.empty
  private var hot: Map[String, IndexedSeq[Int]] = Map.empty
  private var cycles = 0
  private var requests = 0
  private val sample = mutable.ArrayBuffer.empty[(String, Any, Any)]

  private def catRoot = new File(root, "catalog").getPath
  private def mhRoot = new File(root, "minhash").getPath
  private def ivfRoot = new File(root, "ivf").getPath
  private def readCatalog(): DataFrame = Spans.span("catalog.read") {
    TxLog.readDelta(spark, catRoot, Seq.empty[PackageRow].toDF())._2
  }

  def setup(r: File): Unit = {
    root = r
    rnd = new Random(seed)
    cycles = 0
    requests = 0
    sample.clear()
    // catalog: 75 names × 2-6 natural versions; sha1s drawn from a
    // pool smaller than the catalog, so checksum lookups see ties
    val names = (0 until 75).map { i =>
      val ptype = Seq("maven", "npm", "pypi")(i % 3)
      (ptype, if (ptype == "maven") Some(s"org.ex${i % 7}") else None, s"lib$i")
    }
    val pool = IndexedSeq.fill(250)(Gen.hex(rnd, 20))
    pkgs = names.flatMap { case (pt, ns, n) =>
      val vs = Seq.fill(2 + rnd.nextInt(5))(
        s"${rnd.nextInt(4)}.${rnd.nextInt(13)}.${rnd.nextInt(21)}").distinct
      vs.map { v =>
        val url = s"https://repo.example/$pt/${ns.getOrElse("-")}/$n/$v/$n-$v.tgz"
        val rel = if (rnd.nextInt(20) == 0) None
          else Some(new Timestamp(1420070400000L + rnd.nextInt(3650) * 86400000L))
        PackageRow(url, pt, ns, n, Some(v), None, None, None, None, Seq.empty,
          None, None, None, None, Some(pool(rnd.nextInt(pool.length))), None,
          None, Some(1000L + rnd.nextInt(100000)), rel, 0, None, Seq.empty)
      }
    }
    TxLog.mergeCommitDelta(spark, catRoot,
      pkgs.toDF().withColumn("visit_level", lit(50)), "2026-01-01 00:00:00",
      Seq.empty[PackageRow].toDF(), partitions = 16)

    // scans of the first 120 packages: 4 files each (file sha1s from a
    // shared pool) and one directory with a content fingerprint
    val filePool = IndexedSeq.fill(300)(Gen.hex(rnd, 20))
    val scanned = pkgs.take(120)
    files = scanned.flatMap { p =>
      (0 until 4).map(j => FileRow(p.download_url, s"${p.name}/src/f$j.c",
        filePool(rnd.nextInt(filePool.length)), 100L + rnd.nextInt(5000)))
    }
    dirs = scanned.map(p => DirRow(p.download_url, s"${p.name}/src",
      f"${20 + rnd.nextInt(180)}%08x" + Gen.hex(rnd, 16)))
    val scans = scanned.map { p =>
      val fs = files.filter(_.url == p.download_url).map(f =>
        s"""{"path":"${f.path}","type":"file","name":"${f.path.split('/').last}",""" +
          s""""size":${f.size},"sha1":"${f.sha1}"}""")
      val d = dirs.find(_.url == p.download_url).get
      val dj = s"""{"path":"${d.path}","type":"directory","name":"src","size":0,""" +
        s""""extra_data":{"directory_content":"${d.fp}"}}"""
      p.download_url -> (fs :+ dj).mkString("""{"files":[""", ",", "]}")
    }
    val scanRes = Indexing.scanResources(scans.toDF("download_url", "scan_json"))
    Indexing.resources(scanRes).write.parquet(new File(root, "exact").getPath)
    Indexing.directoryContentIndex(scanRes).write.parquet(new File(root, "approx").getPath)

    // labelled MinHash index over 250 docs
    docs = new DocGen(seed)
    val corpus = docs.shard(250, withBridge = false)
    val sh = DedupOps.shingleDocs(corpus.toDF("doc_id", "text"))
    try MinhashIndexStore.save(mhRoot, sh, Some(ConnectedComponents.labels(
      sh.select("doc_id"),
      DedupOps.lshVerifiedPairs(sh).select(col("d1").as("u"), col("d2").as("v")))))
    finally DedupOps.releaseCaches()

    // IVF index with an attribute sidecar (lang, score): 900 vectors
    // saved, a 100-vector shard appended with its attributes (the
    // stream's `processBatch` appends without them), 16 taken down
    vecs = new VecGen(seed)
    def withAttrs(vs: Seq[(Long, Array[Float])]) = vs.map { case (id, _) =>
      (id, Seq("en", "de", "fr", "zh")(rnd.nextInt(4)), rnd.nextInt(100))
    }
    val base = vecs.batch(900)
    val baseAttrs = withAttrs(base)
    try IvfIndexStore.save(ivfRoot,
      SimilarityOps.quantizeEmbeddings(base.toDF("vec_id", "embedding")), cells,
      attrs = Some(baseAttrs.toDF("vec_id", "lang", "score")))
    finally SimilarityOps.releaseCaches()
    val shard = vecs.batch(100)
    val shardAttrs = withAttrs(shard)
    try IvfIndexStore.append(spark, ivfRoot,
      SimilarityOps.quantizeEmbeddings(shard.toDF("vec_id", "embedding")),
      tag = Some(1L), attrs = Some(shardAttrs.toDF("vec_id", "lang", "score")))
    finally SimilarityOps.releaseCaches()
    val gone = Seq.fill(16)(vecs.nextInt(base.length + shard.length) + 1L).toSet
    try IvfIndexStore.delete(spark, ivfRoot, gone.toSeq.toDF("vec_id"))
    finally SimilarityOps.releaseCaches()
    val live = (base ++ shard).filterNot(v => gone(v._1))
    qv = live.map { case (id, v) => id -> v.map(Gen.quantize) }.toMap
    vecIds = live.map(_._1).toIndexedSeq
    scoreOf = (baseAttrs ++ shardAttrs).map(a => a._1 -> a._3).toMap

    // hot keys: a small fixed subset per key space
    hot = Map(
      "vec" -> IndexedSeq.fill(20)(rnd.nextInt(vecIds.length)),
      "pkg" -> IndexedSeq.fill(12)(rnd.nextInt(pkgs.length)),
      "file" -> IndexedSeq.fill(30)(rnd.nextInt(files.length)),
      "dir" -> IndexedSeq.fill(10)(rnd.nextInt(dirs.length)),
      "doc" -> IndexedSeq.fill(20)(rnd.nextInt(corpus.length)))
  }
  private var scoreOf: Map[Long, Int] = Map.empty

  /** A key index into a space of `n`: hot with the seed's share. */
  private def pick(space: String, n: Int): Int =
    if (rnd.nextDouble() < hotShare) hot(space)(rnd.nextInt(hot(space).length))
    else rnd.nextInt(n)

  private def vecQueries(n: Int): (Seq[Long], DataFrame) = {
    val ids = Seq.fill(n)(vecIds(pick("vec", vecIds.length))).distinct
    (ids, SimilarityOps.quantizeEmbeddings(
      ids.map(id => id -> vecs.vecs(id)).toDF("vec_id", "embedding")))
  }

  /** `below`: the filtered search keeps vectors with score < below. */
  private def shortlist(q: DataFrame, below: Option[Int], probe: Int): Seq[(Long, Long, Double)] =
    try IvfIndexStore.shortlist(IvfIndexStore.load(spark, ivfRoot), q, probe, topK,
        below.map(col("score") < _))
      .select("qid", "nid", "cosine").as[(Long, Long, Double)].collect().toSeq
    finally SimilarityOps.releaseCaches()

  override def opsPerRound: Int = 3
  // no request type runs in set-up: one untimed cycle first
  override def warmupOps: Int = 1

  def op(): Long = {
    cycles += 1
    // every other cycle's requests are checked after the run
    rnd.shuffle(kinds).map(k => request(k, keep = cycles % 2 == 0)).sum
  }

  /** One request; returns the query items it answered. */
  private def request(k: String, keep: Boolean): Long = {
    requests += 1
    def record(req: Any, res: Any): Unit = if (keep) sample += ((k, req, res))
    k match {
      case "shortlist" | "filtered" =>
        val (ids, q) = vecQueries(4)
        val below = if (k == "filtered") Some(10 + rnd.nextInt(31)) else None
        val res = Spans.span(
          if (k == "shortlist") "ops.ivf_shortlist" else "ops.ivf_filtered_shortlist") {
          shortlist(q, below, nprobe)
        }
        record((ids, below), res)
        ids.length
      case "verdicts" =>
        val keys = docs.texts.keys.toIndexedSeq
        val shard = Seq.fill(6) {
          val src = docs.texts(keys(pick("doc", keys.length)))
          if (rnd.nextInt(4) == 0) docs.randomText() else docs.mutate(src)
        }.zipWithIndex.map { case (tx, i) => (1000000L + requests * 10 + i, tx) }
        val res = Spans.span("ops.minhash_verdicts") {
          try MinhashIndexStore.verdicts(MinhashIndexStore.load(spark, mhRoot),
              DedupOps.shingleDocs(shard.toDF("doc_id", "text")))
            .select("doc_id", "verdict").as[(Long, String)].collect().toSeq
          finally DedupOps.releaseCaches()
        }
        record(shard, res)
        shard.length
      case "exact" =>
        val qs = Seq.fill(8) {
          val i = pick("file", files.length)
          if (rnd.nextInt(4) == 0) (s"q/cold$i", Gen.hex(rnd, 20))
          else (s"q/f$i", files(i).sha1)
        }.distinct
        val res = Spans.span("matching.exact") {
          Matching.exactMatch(qs.toDF("path", "sha1"),
              spark.read.parquet(new File(root, "exact").getPath))
            .select("q_path", "sha1", "download_url", "matched_path")
            .as[(String, String, String, String)].collect().toSeq
        }
        record(qs, res)
        qs.length
      case "approx" =>
        val qs = Seq.fill(4) {
          val i = pick("dir", dirs.length)
          val fp = if (rnd.nextInt(4) == 0) f"${20 + rnd.nextInt(180)}%08x" + Gen.hex(rnd, 16)
            else flipBits(dirs(i).fp, 1 + rnd.nextInt(5), rnd)
          (s"q/d$i-${rnd.nextInt(1000)}", "src", 0L, false, fp)
        }.distinctBy(_._1)
        val res = Spans.span("matching.approx") {
          Matching.approximateMatch(
              qs.toDF("q_path", "q_name", "q_size", "q_is_file", "fingerprint"),
              spark.read.parquet(new File(root, "approx").getPath))
            .select("q_path", "download_url", "path", "hamming")
            .as[(String, String, String, Int)].collect().toSeq
        }
        record(qs, res)
        qs.length
      case "checksum" =>
        val sha1s = Seq.fill(6) {
          if (rnd.nextInt(4) == 0) Gen.hex(rnd, 20)
          else pkgs(pick("pkg", pkgs.length)).sha1.get
        }.distinct
        val res = Spans.span("api.checksum_lookup") {
          CatalogApi.filterByChecksums(readCatalog(), sha1s)
            .select("sha1", "download_url").as[(String, String)].collect().toSeq
        }
        record(sha1s, res)
        sha1s.length
      case "latest" =>
        val p = pkgs(pick("pkg", pkgs.length))
        val res = Spans.span("api.latest_version") {
          CatalogApi.latestVersion(readCatalog(), p.ptype, p.namespace, p.name)
            .select("download_url").as[String].collect().toSeq
        }
        record(p, res)
        1
      case "resolve" =>
        val reqs = Seq.fill(3) {
          val p = pkgs(pick("pkg", pkgs.length))
          val base = s"pkg:${p.ptype}/" + p.namespace.map(_ + "/").getOrElse("") + p.name
          if (rnd.nextBoolean()) base else s"$base@${p.version.get}"
        }.distinct
        val res = Spans.span("api.resolve") {
          val cat = readCatalog()
          CatalogApi.resolvePackages(reqs.map(_ -> None), purl => {
            val Array(pt, rest @ _*) = purl.stripPrefix("pkg:").split('/')
            val (ns, name) = if (rest.length == 2) (Some(rest(0)), rest(1)) else (None, rest(0))
            val nsPred = ns.map(col("namespace") === _).getOrElse(col("namespace").isNull)
            Some(cat.filter(col("ptype") === pt && nsPred && col("name") === name)
              .select("version").as[String].collect().toSeq)
          }).resolved
        }
        record(reqs, res)
        reqs.length
    }
  }

  // ---- checks: exact recomputation of the sampled requests ----------

  private def bruteTopK(q: Long, allowed: Long => Boolean): Seq[(Long, Double)] =
    qv.iterator.filter { case (id, _) => id != q && allowed(id) }
      .map { case (id, v) => id -> Gen.cosine(qv(q), v) }.toSeq
      .sortBy { case (id, c) => (-c, id) }.take(topK)

  private var recall = 0.0
  private var hitsPerQuery = 0.0

  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def fail(m: String): Unit = errs += m
    val recalls = mutable.ArrayBuffer.empty[Double]
    val hits = mutable.ArrayBuffer.empty[Double]
    sample.foreach {
      case (k @ ("shortlist" | "filtered"), (qids: Seq[Long] @unchecked, below: Option[Int] @unchecked),
          res: Seq[(Long, Long, Double)] @unchecked) =>
        val allowed: Long => Boolean = id => below.forall(scoreOf(id) < _)
        qids.foreach { q =>
          val got = res.filter(_._1 == q)
          val exact = bruteTopK(q, allowed)
          if (got.length > topK || got.map(_._2).distinct.length != got.length ||
              got.exists { case (_, n, c) => n == q || !allowed(n) ||
                math.abs(c - Gen.cosine(qv(q), qv(n))) > 1e-9 })
            fail(s"match: $k result for $q is not a valid top-$topK")
          if (k == "shortlist" && exact.nonEmpty)
            recalls += got.map(_._2).toSet.intersect(exact.map(_._1).toSet).size.toDouble / exact.length
        }
      case ("verdicts", shard: Seq[(Long, String)] @unchecked,
          res: Seq[(Long, String)] @unchecked) =>
        val full = try MinhashIndexStore.verdicts(MinhashIndexStore.load(spark, mhRoot),
            DedupOps.shingleDocs(shard.toDF("doc_id", "text")), prune = false)
          .select("doc_id", "verdict").as[(Long, String)].collect().toSet
          finally DedupOps.releaseCaches()
        if (res.toSet != full) fail("match: pruned verdicts differ from the unpruned probe")
      case ("exact", qs: Seq[(String, String)] @unchecked,
          res: Seq[(String, String, String, String)] @unchecked) =>
        val want = (for ((qp, s) <- qs; f <- files if f.sha1 == s)
          yield (qp, s, f.url, f.path)).toSet
        if (res.toSet != want) fail(s"match: exact match differs from a plain join")
        hits += res.length.toDouble / qs.length
      case ("approx", qs: Seq[(String, String, Long, Boolean, String)] @unchecked,
          res: Seq[(String, String, String, Int)] @unchecked) =>
        qs.foreach { q =>
          val qc = Integer.parseInt(q._5.take(8), 16)
          val cands = dirs.flatMap { d =>
            val dc = Integer.parseInt(d.fp.take(8), 16)
            // the banded probe: a candidate shares one of the four
            // 32-bit chunks of the fingerprint body
            val shared = q._5.drop(8).grouped(8).zip(d.fp.drop(8).grouped(8))
              .exists { case (a, b) => a == b }
            val h = hamming(q._5.drop(8), d.fp.drop(8))
            if (shared && h < Matching.HammingThreshold && dc >= math.floor(qc * 0.95) &&
                dc <= math.floor(qc * 1.05)) Some((d.url, d.path, h)) else None
          }
          val best = if (cands.isEmpty) Set.empty[(String, String, Int)]
            else { val m = cands.map(_._3).min; cands.filter(_._3 == m).toSet }
          val got = res.filter(_._1 == q._1).map(r => (r._2, r._3, r._4)).toSet
          if (got.isEmpty != best.isEmpty || !got.subsetOf(best))
            fail(s"match: approximate match for ${q._1} differs from brute force")
          hits += got.size
        }
      case ("checksum", sha1s: Seq[String] @unchecked, res: Seq[(String, String)] @unchecked) =>
        val want = sha1s.flatMap { s =>
          pkgs.filter(_.sha1.contains(s)).sortBy(p =>
            (p.release_date.map(_.getTime).getOrElse(Long.MaxValue), p.download_url))
            .headOption.map(p => s -> p.download_url)
        }.toSet
        if (res.toSet != want) fail("match: checksum lookup differs from a plain join")
      case ("latest", p: PackageRow, res: Seq[String] @unchecked) =>
        val want = pkgs.filter(x => x.ptype == p.ptype && x.namespace == p.namespace &&
          x.name == p.name).maxBy(_.version.get)(Gen.versionOrdering).download_url
        if (res != Seq(want)) fail(s"match: latest version of ${p.name} is $res, want $want")
      case ("resolve", reqs: Seq[String] @unchecked, res: Seq[(String, Int)] @unchecked) =>
        // later requests overwrite earlier ones, as in the reference
        val want = mutable.LinkedHashMap.empty[String, Int]
        reqs.foreach { r =>
          if (r.contains("@")) want(r) = 100
          else pkgs.filter(p => r == s"pkg:${p.ptype}/" +
              p.namespace.map(_ + "/").getOrElse("") + p.name)
            .foreach(p => want(s"$r@${p.version.get}") = 0)
        }
        if (res.toSet != want.toSet) fail("match: resolved packages differ from the catalog")
      case other => fail(s"match: unknown sample ${other._1}")
    }
    // exhaustive probes must equal brute force exactly
    val (qids, q) = vecQueries(2)
    Seq(None, Some(25)).foreach { below =>
      val got = shortlist(q, below, cells)
      qids.foreach { id =>
        if (got.filter(_._1 == id).map(_._2).toSet !=
            bruteTopK(id, n => below.forall(scoreOf(n) < _)).map(_._1).toSet)
          fail(s"match: exhaustive ${below.fold("")(_ => "filtered ")}shortlist " +
            s"for $id differs from brute-force top-$topK")
      }
    }
    recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length
    hitsPerQuery = if (hits.isEmpty) 0.0 else hits.sum / hits.length
    errs.toSeq
  }

  def roots: Seq[File] = Seq(root)

  override def gauges(): Map[String, Double] = Map(
    "ops.ann_recall" -> recall,
    "matching.hits_per_query" -> hitsPerQuery,
    "ops.manifest_dirs" -> (Gen.manifestDirs(new File(mhRoot)) +
      Gen.manifestDirs(new File(ivfRoot))).toDouble,
    "catalog.rows" -> pkgs.length.toDouble,
    "catalog.data_dirs" ->
      Option(new File(catRoot, "data").list()).map(_.length).getOrElse(0).toDouble)
}

object Match {
  final case class FileRow(url: String, path: String, sha1: String, size: Long)
  final case class DirRow(url: String, path: String, fp: String)

  def hamming(a: String, b: String): Int =
    a.grouped(8).zip(b.grouped(8)).map { case (x, y) =>
      java.lang.Long.bitCount(java.lang.Long.parseLong(x, 16) ^ java.lang.Long.parseLong(y, 16))
    }.sum

  /** `fp` with `n` distinct bits of its 128-bit body flipped. */
  def flipBits(fp: String, n: Int, rnd: Random): String = {
    val body = fp.drop(8).grouped(2).map(Integer.parseInt(_, 16)).toArray
    rnd.shuffle((0 until 128).toList).take(n).foreach(b => body(b / 8) ^= 1 << (b % 8))
    fp.take(8) + body.map(x => f"$x%02x").mkString
  }
}
