package graft.ops

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Scope
import graft.catalog.{CommitStore, LinkCommitStore, TxLog}
import graft.ops.ArtifactLog.Rec

/** The persisted MinHash/LSH dedup index — the dedup-side mirror of
  * [[IvfIndexStore]] and the artifact `d_incremental_dedup` could
  * only simulate in-plan (its scaladoc calls the corpus band frame
  * "exactly the persisted index a deployment maintains between
  * ingests"; this store maintains it). Two tables per version:
  *
  * {{{
  *   root/_commits/v<20-digit>       #mh bands=8 rows=4 p=.. q=..
  *   root/data/<uuid>/bands/         (doc_id, band_idx, band_hash, pb)
  *   root/data/<uuid>/shingles/      (doc_id, sh, qb)
  * }}}
  *
  * `bands` is the LSH bucket structure the candidate join probes;
  * `shingles` keeps each corpus doc's distinct 3-token shingle set so
  * the exact-Jaccard verify can re-attach WITNESS content without the
  * raw corpus (the signature-store shape of production dedup
  * services). Both are hash-bucketed Hive partitions —
  * `pb = band_hash % P`, `qb = doc_id % Q` — and [[verdicts]]
  * collects the ≤P / ≤Q DISTINCT touched buckets (bounded by the
  * bucket counts, never by shard size) and pushes them as partition
  * filters: a small shard's ingest reads the buckets its band hashes
  * land in plus the shingle buckets of its COLLIDING corpus docs, not
  * the corpus (both reads measured flat-vs-corpus: BASELINE.md
  * "Round-12 addendum 4b"). Records, CAS commits,
  * append/compact/vacuum and time travel are the shared
  * [[ArtifactLog]] machinery — identical protocol to the catalog and
  * the IVF store.
  *
  * Exactness: [[verdicts]] on a LOADED index is row-identical to
  * [[DedupOps.incrementalVerdicts]] on the same corpus∪shard frame
  * (MinhashIndexSpec), and `d_dedup_index_lifecycle` gates the whole
  * save → load → probe → verify path against `d_incremental_dedup`'s
  * DuckDB oracle — a band hash that drifted through the parquet
  * roundtrip surfaces as a missed witness and hash-fails.
  */
object MinhashIndexStore {

  /** A loaded index version. Band/shingle frames carry their bucket
    * columns; `labels0`/`forward` are present iff the index was
    * saved with cluster labels ([[save]]'s `labels` arg): `labels0`
    * is each doc's cluster id AT WRITE TIME (immutable, doc-bucketed
    * like shingles), `forward` the tiny canonical old→new cluster
    * forwarding map that absorbs every later merge — persisted
    * union-find with path compression, so a merge never rewrites a
    * corpus row (see [[ingestLabeled]]). */
  final case class MinhashIndex(version: Long, bandBuckets: Int,
      shingleBuckets: Int, bands: DataFrame, shingles: DataFrame,
      labels0: Option[DataFrame] = None,
      forward: Option[DataFrame] = None)

  private val Kind = "mh"

  /** ~256 docs per bucket: pruning selectivity is
    * min(1, shard_hashes / P), so buckets must OUTNUMBER a shard's
    * ~8×|shard| band hashes for the pruned scan to skip anything —
    * the first probe run used ~2048 docs/bucket and a 50-doc shard
    * touched every bucket (BASELINE.md "Round-12 addendum 4").
    * The 65536 cap bounds the dir count at object-store scale
    * (10⁹ docs → 65536 buckets of ~15k docs; a 400-hash shard still
    * prunes to 0.6%); floor of 8 keeps tiny test indexes
    * multi-bucket so the pruned path is always ENGAGED. */
  def defaultBuckets(nDocs: Long): Int =
    math.min(65536L, math.max(8L, nDocs / 256L)).toInt

  private def mkRec(p: Int, q: Int, dirs: Seq[(String, String)]): Rec =
    Rec(Seq("bands" -> "8", "rows" -> "4", "p" -> p.toString,
      "q" -> q.toString), dirs)

  private def readDirs(spark: SparkSession, root: String,
      dirs: Seq[String]): DataFrame =
    dirs.sorted
      .map(d => spark.read.option("basePath", s"$root/data/$d")
        .parquet(s"$root/data/$d"))
      .reduce(_ unionByName _)

  /** `partitioned = false` is the EMPTY-frame path (a from-scratch
    * streaming index saves over an empty corpus): a partitionBy write
    * of zero rows emits no schema-bearing file at all, so the empty
    * tables write plain — the pb/qb columns are ordinary data columns
    * there, union cleanly with partition-discovered dirs, and still
    * satisfy the pruning filters. A [[Scope.staged]] `shingled` plans
    * the writes (and the band cache) without AQE. */
  private def writeShard(shingled: DataFrame, p: Int, q: Int,
      dir: String, partitioned: Boolean = true): Unit = {
    // scoped-cached for cross-action reuse: an ingest computes this
    // same band frame for its candidate probe (verifiedShardPairs)
    // and a labeled save computes it for the CC pair generation —
    // the plan-keyed cache collapses those MinHash passes to one
    val bands = Scope.cache(DedupOps.bandFrame(shingled))
      .withColumn("pb",
        pmod(col("band_hash").cast("long"), lit(p.toLong)).cast("int"))
    val sh = shingled.select(col("doc_id"), col("sh"),
      pmod(col("doc_id"), lit(q.toLong)).cast("int").as("qb"))
    val sess = shingled.sparkSession
    // repartition on the bucket column first: ONE file per bucket
    // per shard instead of tasks × buckets — the object-store
    // layout (a shard contributes k files, not k × parallelism),
    // and measurably less write/commit overhead on the in-plan
    // lifecycle queries. ~256 rows per bucket bounds the skew a
    // single-bucket task can carry. The two tables are independent
    // staging writes — overlap them (guide §2.6).
    Scope {
      Scope.fork(sess, "mh:write:bands")(
        if (partitioned) bands.repartition(col("pb"))
          .write.partitionBy("pb").parquet(s"$dir/bands")
        else bands.write.parquet(s"$dir/bands"))
      Scope.fork(sess, "mh:write:shingles")(
        if (partitioned) sh.repartition(col("qb"))
          .write.partitionBy("qb").parquet(s"$dir/shingles")
        else sh.write.parquet(s"$dir/shingles"))
    }
  }

  /** Index `corpus` (a [[DedupOps.shingleDocs]]-shaped frame:
    * doc_id, sh) and commit version 1. Pass the corpus's component
    * labels (doc_id, cluster_id — e.g. from
    * [[graft.ops.ConnectedComponents.labels]] over the verified pair
    * set) to enable [[ingestLabeled]]/[[resolvedLabels]]: the labels
    * persist doc-bucketed next to the shingles, plus an empty
    * forwarding map. */
  def save(root: String, corpus: DataFrame,
      labels: Option[DataFrame] = None,
      store: CommitStore = LinkCommitStore): Long = Scope {
    TxLog.init(root)
    val sess = corpus.sparkSession
    // the shingle pipeline behind `corpus` feeds THREE actions
    // (count, bands write, shingles write) — cache it for this call
    // so the tokenize+shingle subplan runs once, not three times
    val c = Scope.cache(corpus)
    graft.core.labeled(sess, "mh:save") {
      val n = c.count()
      val (p, q) = (defaultBuckets(n), defaultBuckets(n))
      val dirName = UUID.randomUUID().toString
      val labDirs = labels.toSeq.flatMap { lab =>
        // the label frame (typically a CC fixpoint's output) feeds
        // TWO writes (doc-bucketed labels + cluster-bucketed members
        // mirror) — cache for the call or the fixpoint runs twice
        val lab0 = Scope.cache(lab.select(col("doc_id"),
          col("cluster_id").as("cid0")))
        // own top-level uuid: the F line is replaced on every labeled
        // ingest, and a replaced dir must become vacuum-sweepable
        val fwdDirName = UUID.randomUUID().toString
        // the shard tables, the labmem table and the empty forward
        // map are independent AQE-off staging writes (fixed bucket
        // repartitions, no joins to re-plan — each write becomes one
        // job instead of 2-5) — overlap them (guide §2.6); the
        // commit joins them
        Scope.fork(sess, "mh:save:shard")(
          writeShard(Scope.staged(c), p, q, s"$root/data/$dirName",
            partitioned = n > 0))
        Scope.fork(sess, "mh:save:labmem")(
          writeLabelsAndMembers(Scope.staged(lab0), q, gen = 1L,
            s"$root/data/$dirName", partitioned = n > 0))
        Scope.fork(sess, "mh:save:fwd")(
          Scope.staged(lab.limit(0).select(col("doc_id").as("cid_from"),
              col("doc_id").as("cid_to")))
            .write.parquet(s"$root/data/$fwdDirName/forward"))
        labelDirs(dirName) :+ ("F" -> s"$fwdDirName/forward")
      }
      if (labels.isEmpty)
        writeShard(Scope.staged(c), p, q, s"$root/data/$dirName",
          partitioned = n > 0)
      val rec = Rec(
        mkRec(p, q, Nil).kv ++
          (if (labels.isDefined) Seq("lab" -> "1") else Nil),
        Seq("B" -> s"$dirName/bands", "S" -> s"$dirName/shingles") ++
          labDirs)
      val v = ArtifactLog.list(root).headOption.map(_._1).getOrElse(0L)
      ArtifactLog.commit(root, Kind, v, rec, store)
    }
  }

  /** Label rows persist with a `gen` column (the commit version that
    * wrote them): ingests write each doc's label once, but a DELETE
    * that splits a cluster re-labels the touched survivors with fresh
    * higher-gen rows — the newest row per doc is the truth, resolved
    * at load ([[loadAt]]'s max_by, active only while tombstones are
    * outstanding).
    *
    * The doc-bucketed LABELS (`b = doc_id % q` under `side=q`) and
    * their cluster-bucketed MEMBERS mirror (`b = cid0 % q` under
    * `side=m`) persist as ONE `labmem` table partitioned by
    * (side, b) — a single write job and commit round per labeled
    * stage where two separate tables cost two (the r13 bench showed
    * the pair of extra mirror writes as most of
    * `d_cluster_index_incremental`'s 10.8 → 12.8 s move; at
    * object-store scale the doubled commit round-trips are the same
    * tax). The record's L/M lines point INTO the two side subtrees,
    * so every reader still sees its own bucketed table. The mirror
    * answers the takedown's inverse lookup — "which docs are in this
    * cluster" — without a corpus-label scan; stale mirror rows (a
    * doc re-labeled by a later split) stay in their old cluster's
    * bucket, and [[delete]] treats the mirror as a candidate
    * SUPERSET re-checked against newest labels, so staleness costs
    * probe rows, never correctness. */
  private def writeLabelsAndMembers(lab0: DataFrame, q: Int, gen: Long,
      dir: String, partitioned: Boolean = true): Unit = {
    def rows(side: String, bucketOf: org.apache.spark.sql.Column) =
      lab0.select(col("doc_id"), col("cid0"), lit(gen).as("gen"),
        lit(side).as("side"),
        pmod(bucketOf, lit(q.toLong)).cast("int").as("b"))
    val both = rows("q", col("doc_id")).unionByName(
      rows("m", col("cid0")))
    if (partitioned)
      both.repartition(col("side"), col("b"))
        .write.partitionBy("side", "b").parquet(s"$dir/labmem")
    else {
      // empty path: a partitionBy of zero rows emits no
      // schema-bearing file — write each side subtree plain (the
      // bucket stays as a data column, like save()'s empty tables)
      rows("q", col("doc_id")).drop("side")
        .write.parquet(s"$dir/labmem/side=q")
      rows("m", col("cid0")).drop("side")
        .write.parquet(s"$dir/labmem/side=m")
    }
  }

  private def labelDirs(dirName: String): Seq[(String, String)] =
    Seq("L" -> s"$dirName/labmem/side=q",
      "M" -> s"$dirName/labmem/side=m")

  def load(spark: SparkSession, root: String): MinhashIndex = {
    val recs = ArtifactLog.list(root)
    require(recs.nonEmpty, s"$root has no committed index")
    loadAt(spark, root, recs.head._1)
  }

  /** Latest committed (version, labeled?) without loading any frame
    * — the cheap existence/position probe streaming callers need
    * ([[graft.streaming.DedupIngestStream]]'s empty-batch path). */
  def latestVersion(root: String): (Long, Boolean) = {
    val (v, r) = ArtifactLog.latest(root, Kind)
    (v, r.kvMap.get("lab").contains("1"))
  }

  /** Tombstone dirs: tiny unpartitioned (doc_id) tables, broadcast,
    * anti-joined. None → no plan change anywhere. */
  private def readTombs(spark: SparkSession, root: String,
      dirs: Seq[String]): Option[DataFrame] =
    if (dirs.isEmpty) None
    else Some(dirs.sorted
      .map(d => spark.read.parquet(s"$root/data/$d"))
      .reduce(_ unionByName _))

  private def dropTombs(df: DataFrame, tombs: Option[DataFrame])
      : DataFrame = tombs match {
    case Some(t) => df.join(broadcast(t), Seq("doc_id"), "left_anti")
    case None => df
  }

  /** Time travel: the index as of `version` (full-manifest records —
    * any retained version reads directly). Tombstoned docs
    * ([[delete]]) filter at this seam, so every downstream read —
    * candidate probes, witness fetches, labels — sees the post-delete
    * index without per-path handling. While tombstones are
    * OUTSTANDING (T lines present; [[compact]] folds them away) the
    * label read also resolves each doc to its newest-gen row: a
    * delete that split a cluster re-labels the touched survivors with
    * fresh rows rather than rewriting corpus label files, and the
    * max_by collapses to one row per doc. Both costs vanish exactly
    * when no delete is outstanding. */
  def loadAt(spark: SparkSession, root: String, version: Long)
      : MinhashIndex = {
    val r = ArtifactLog.recordAt(root, Kind, version)
    val labeled = r.kvMap.get("lab").contains("1")
    val tombs = readTombs(spark, root, r.dirsOf("T"))
    val labels0 =
      if (!labeled) None
      else {
        // the L dirs point into labmem/side=q — bucket column `b`,
        // renamed so every downstream prune keeps its qb shape (the
        // alias is a projection; partition filters push through it)
        val raw = dropTombs(
          readDirs(spark, root, r.dirsOf("L"))
            .withColumnRenamed("b", "qb"), tombs)
        Some(
          if (tombs.isEmpty) raw.select("doc_id", "cid0", "qb")
          else raw.groupBy("doc_id", "qb")
            .agg(max_by(col("cid0"), col("gen")).as("cid0"))
            .select("doc_id", "cid0", "qb"))
      }
    MinhashIndex(version, r.kvMap("p").toInt, r.kvMap("q").toInt,
      dropTombs(readDirs(spark, root, r.dirsOf("B")), tombs),
      dropTombs(readDirs(spark, root, r.dirsOf("S")), tombs),
      labels0,
      if (labeled) Some(spark.read.parquet(
        s"$root/data/${r.dirsOf("F").head}")) else None)
  }

  /** O(shard) ingest commit: band + shingle rows for the ADMITTED
    * shard docs only (a deployment appends what [[verdicts]] admits;
    * appending the full shard is the caller's choice), staged as one
    * new dir pair and CAS-appended with rebase-on-conflict. The
    * corpus dirs are never read or rewritten. */
  def append(spark: SparkSession, root: String, shard: DataFrame,
      store: CommitStore = LinkCommitStore, maxRetries: Int = 10): Long = {
    val (_, head) = ArtifactLog.latest(root, Kind)
    require(!head.kvMap.get("lab").contains("1"),
      "labeled index: use ingestLabeled (a bare append would leave " +
        "the shard's docs unlabeled)")
    // empty shard: NO-OP (same partitionBy-of-zero-rows brick hazard
    // as ingestLabeled)
    if (shard.isEmpty) return ArtifactLog.latest(root, Kind)._1
    val (p, q) = (head.kvMap("p").toInt, head.kvMap("q").toInt)
    val dirName = UUID.randomUUID().toString
    writeShard(Scope.staged(shard), p, q, s"$root/data/$dirName")
    var attempt = 0
    while (true) {
      val (v, latest) = ArtifactLog.latest(root, Kind)
      // tag channels advancing (a saga takedown interleaving) is not
      // a structural change — compare everything else
      require(latest.kv.filterNot(kv => ArtifactLog.TagKeys(kv._1)) ==
          head.kv.filterNot(kv => ArtifactLog.TagKeys(kv._1)),
        "concurrent commit replaced the index structure (a save raced " +
          "this append); re-run against the new index")
      val rec = Rec(latest.kv, latest.dirs ++
        Seq("B" -> s"$dirName/bands", "S" -> s"$dirName/shingles"))
      try return ArtifactLog.commit(root, Kind, v, rec, store)
      catch {
        case e: TxLog.CommitConflict =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fold the accreted shard dirs into one family (same content).
    * On a labeled index the label dirs fold too, with each doc's
    * CURRENT resolved label baked in (gen reset to 0) and the
    * forwarding map reset to empty — compaction is exactly the
    * union-find path-compression flush.
    *
    * Cadence policy: the forwarding map grows one entry per merge
    * until this flush, but resolution is a single broadcast hash join
    * either way — resolve wall measured FLAT from 0 to 10⁵ entries
    * (BASELINE.md "Round-13: forwarding-map resolve curve") — so
    * compaction cadence is set
    * by MANIFEST hygiene (dir-list length: one dir family per ingest;
    * fold when it approaches the ~10²-line point where record parse
    * and multi-dir unions start to show) and by outstanding
    * tombstones (each delete leaves a probe-time anti-join and
    * duplicate label generations until folded), not by forwarding
    * depth. Only a map outgrowing a comfortable broadcast (~10⁷
    * entries, ≈160 MB) forces the flush on its own. Outstanding tombstones fold
    * PHYSICALLY: deleted rows are excluded from the folded files and
    * the T lines are dropped, so a takedown stops costing the
    * probe-time anti-join here. */
  def compact(spark: SparkSession, root: String,
      store: CommitStore = LinkCommitStore): Long = Scope {
    val (v, r) = ArtifactLog.latest(root, Kind)
    val labeled = r.kvMap.get("lab").contains("1")
    val tombs = readTombs(spark, root, r.dirsOf("T"))
    val dirName = UUID.randomUUID().toString
    // an EMPTY index (from-scratch stream compacted before its first
    // batch, or a corpus deleted whole) must write plain, like
    // save()'s empty path — a partitionBy of zero rows emits no
    // schema-bearing file and a committed record pointing at it
    // bricks the root; and the non-empty path re-buckets to keep one
    // file per bucket (the whole point of compaction's long-lived
    // form)
    def bands = dropTombs(readDirs(spark, root, r.dirsOf("B")), tombs)
    val empty = bands.isEmpty
    // AQE-off staging ([[Scope.staged]]) only for the pure re-bucket
    // writes and the empty fwd write (ADVICE r13 / the §10b rule):
    // the labmem fold's plan EMBEDS real compute (loadAt's newest-gen
    // window + resolvedLabels' joins), exactly the shape an AQE-off
    // IVF-store write regressed on and was reverted.
    writeBucketed(Scope.staged(bands), "pb",
      s"$root/data/$dirName/bands", empty)
    writeBucketed(Scope.staged(dropTombs(
        readDirs(spark, root, r.dirsOf("S")), tombs)),
      "qb", s"$root/data/$dirName/shingles", empty)
    val labDirs =
      if (!labeled) Nil
      else {
        val idx = loadAt(spark, root, v) // tomb-filtered, newest-gen
        // feeds the folded write — cache (same rationale as save)
        val lab0 = Scope.cache(resolvedLabels(idx)
          .select(col("doc_id"), col("cluster_id").as("cid0")))
        // compiled under AQE: the write materializes the resolved-
        // label recompute, not a bare re-bucket
        writeLabelsAndMembers(lab0, idx.shingleBuckets, gen = 0L,
          s"$root/data/$dirName", partitioned = !empty)
        val fwdDirName = UUID.randomUUID().toString
        Scope.staged(idx.forward.get.limit(0))
          .write.parquet(s"$root/data/$fwdDirName/forward")
        labelDirs(dirName) :+ ("F" -> s"$fwdDirName/forward")
      }
    ArtifactLog.commit(root, Kind, v, Rec(r.kv,
      Seq("B" -> s"$dirName/bands", "S" -> s"$dirName/shingles") ++
        labDirs), store)
  }

  private def writeBucketed(df: DataFrame, bucketCol: String,
      dir: String, empty: Boolean): Unit =
    if (empty) df.write.parquet(dir)
    else df.repartition(col(bucketCol))
      .write.partitionBy(bucketCol).parquet(dir)

  /** Incremental dedup verdicts for a shingled `shard` against a
    * loaded index — [[DedupOps.incrementalVerdicts]] with the corpus
    * side served by the artifact:
    *
    *   1. shard bands probe the index's band table PRUNED to the ≤P
    *      buckets the shard's band hashes land in (corpus candidates),
    *      plus the within-shard first-seen-wins self-join;
    *   2. the exact-Jaccard verify re-attaches witness shingles from
    *      the index PRUNED to the ≤Q buckets of colliding corpus docs
    *      (non-colliding corpus docs — the overwhelming majority —
    *      are never read);
    *   3. verdicts: `dup_corpus` (witness in the index) /
    *      `dup_increment` (witness earlier in the shard) / `admitted`,
    *      max-Jaccard witness with ties to the smallest witness id —
    *      the provenance TAG replaces `incrementalVerdicts`' doc_id%5
    *      convention, so the store works for any id scheme.
    */
  def verdicts(index: MinhashIndex, shard: DataFrame,
      prune: Boolean = true): DataFrame = {
    val wBest = Window.partitionBy("d2")
      .orderBy(desc("jaccard"), col("d1"))
    val best = verifiedShardPairs(index, shard, prune)
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("d2").as("doc_id"), col("d1").as("dup_of"),
        col("jaccard"), col("src"))
    shard.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, lit("admitted"))
          .when(col("src") === "increment", lit("dup_increment"))
          .otherwise(lit("dup_corpus")).as("verdict"),
        col("dup_of"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** ALL verified shard pairs (d1, d2, src, n_common, jaccard) —
    * [[verdicts]] keeps only each shard doc's best witness;
    * [[ingestLabeled]] needs the full pair set (a shard doc BRIDGING
    * two corpus clusters contributes two pairs, and dropping either
    * would miss the merge). Same pruned probes. */
  def verifiedShardPairs(index: MinhashIndex, shard: DataFrame,
      prune: Boolean = true): DataFrame =
    verifiedShardPairsInfo(index, shard, prune)._1

  /** [[verifiedShardPairs]] plus the probe's two bounded collects,
    * for callers that can reuse them ([[ingestLabeled]]): `probed` is
    * the shard's banded bucket set — empty iff the shard is empty
    * (every (doc_id, sh) row yields band rows), so it doubles as the
    * empty-shard gate; `candBuckets` is the candidate pairs' d1
    * doc-bucket set — a superset of the verified corpus witnesses'
    * buckets, so it can prune the labels0 read without a further
    * round-trip (the d1 equi-join keeps exactness). Both are empty
    * when `prune` is false. */
  private[ops] def verifiedShardPairsInfo(index: MinhashIndex,
      shard: DataFrame, prune: Boolean = true)
      : (DataFrame, Array[Int], Array[Int]) = {
    val incB = Scope.cache(DedupOps.bandFrame(shard))
    val probed =
      // unpruned: the reference path that the benchmark's verdict
      // check compares the pruned verdicts against
      if (!prune) Array.empty[Int]
      else incB
        .select(pmod(col("band_hash").cast("long"),
          lit(index.bandBuckets.toLong)).cast("int").as("pb"))
        .distinct().collect().map(_.getInt(0)) // ≤ P by pigeonhole
    val corpusCand = incB.alias("b")
      .join((if (prune) index.bands.filter(
          col("pb").isin(probed.toSeq: _*))
        else index.bands).alias("a"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          // a shard doc ALREADY IN the index (an at-least-once
          // replay after append, before the consumer recorded the
          // verdicts) must not witness ITSELF at jaccard 1.0 —
          // incrementalVerdicts carries the same guard
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        lit("corpus").as("src"))
    val withinShard = incB.alias("a").join(incB.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        lit("increment").as("src"))
    // d1 provenance is disjoint (index docs vs shard docs), so the
    // tag survives the pair-level dedup
    val cand = Scope.cache(
      corpusCand.unionByName(withinShard).dropDuplicates("d1", "d2"))
    val candBuckets =
      if (!prune) Array.empty[Int]
      else cand
        .select(pmod(col("d1"), lit(index.shingleBuckets.toLong))
          .cast("int").as("qb"))
        .distinct().collect().map(_.getInt(0)) // ≤ Q by pigeonhole
    val witnessSh = (if (prune) index.shingles
        .filter(col("qb").isin(candBuckets.toSeq: _*))
      else index.shingles)
      .select(col("doc_id"), col("sh"))
    val allSh = witnessSh.unionByName(shard.select("doc_id", "sh"))
    (DedupOps.verifyPairs(allSh, cand.select("d1", "d2"))
      .join(cand, Seq("d1", "d2")), probed, candBuckets)
  }

  /** Labeled shard ingest — incremental connected components against
    * the persisted index, O(shard + touched clusters) and never a
    * corpus relabel:
    *
    *   1. [[verifiedShardPairs]] (pruned probes) gives every
    *      shard↔corpus and shard↔shard near-dup edge;
    *   2. corpus witnesses CONTRACT to their current cluster ids
    *      (label-at-write from the doc-bucketed `labels0` rows —
    *      pruned to the witnesses' ≤Q buckets — resolved through the
    *      broadcast forwarding map), so the subgraph CC runs on
    *      O(shard + witness clusters) nodes, not the corpus;
    *      contraction preserves connectivity, and because each
    *      cluster id IS its component's min doc_id, the subgraph
    *      minimum equals the full-graph minimum — the incremental
    *      labels are EXACTLY the from-scratch CC labels
    *      (`d_cluster_index_incremental` gates this against the full
    *      recursive-CC oracle);
    *   3. a corpus cluster whose component gained a smaller minimum
    *      is never rewritten: its old id maps to the new one in the
    *      FORWARDING table (persisted union-find with path
    *      compression — the map stays canonical single-hop by
    *      re-pointing old entries through this ingest's moves), which
    *      is O(total merges), read whole, broadcast;
    *   4. the shard's bands/shingles/labels land as one new dir
    *      family; the forwarding dir is replaced.
    *
    * Concurrency: the CAS detects any interleaved commit, but a lost
    * race is NOT rebased here (unlike [[append]] — a concurrent
    * labeled ingest changes the very labels this one resolved
    * against); the conflict propagates and the caller re-runs the
    * ingest against the new version, exactly like a catalog
    * `transact` whose merge function re-executes on rebase.
    *
    * Replay idempotence: pass `tag` (a Structured Streaming batchId)
    * and the commit record carries it; a later call whose tag is AT
    * OR BELOW the committed tag is a no-op returning the current
    * version — the foreachBatch contract, same as the frontier's
    * TxLog tags ([[graft.streaming.DedupIngestStream]] drives this). */
  def ingestLabeled(spark: SparkSession, root: String, shard: DataFrame,
      store: CommitStore = LinkCommitStore,
      tag: Option[Long] = None,
      preCommitHook: Long => Unit = _ => ()): Long = {
    val (v, head) = ArtifactLog.latest(root, Kind)
    require(head.kvMap.get("lab").contains("1"),
      s"$root was saved without labels; pass labels to save() first")
    tag.foreach { t =>
      val committed = head.kvMap.get("tag").map(_.toLong)
      if (committed.exists(_ >= t)) return v // replayed batch: no-op
    }
    val idx = loadAt(spark, root, v)
    val (p, q) = (idx.bandBuckets, idx.shingleBuckets)
    val shardC = Scope.cache(shard)
    val (pairsRaw, probed, candBuckets) =
      verifiedShardPairsInfo(idx, shardC)
    // empty shard: NO-OP — staging it would partitionBy-write zero
    // rows (no schema-bearing file) and brick every later read. The
    // probe's own bucket collect IS the gate (band rows exist iff
    // shard rows do) — the separate isEmpty job is gone.
    if (probed.isEmpty) return v
    val dirName = UUID.randomUUID().toString
    // the shard's bands/shingles staging write depends only on shardC
    // and (p, q): start it NOW, overlapped with the probe/CC chain
    // below (guide §2.6); the commit joins it. Planned under AQE: the
    // band frame is the SAME plan-keyed cache the probe uses, so the
    // overlap never duplicates the MinHash pass.
    Scope.fork(spark, "mh:ingest:write:shard")(
      writeShard(shardC, p, q, s"$root/data/$dirName"))
    val pairs = Scope.cache(
      pairsRaw.select("d1", "d2", "src"))
    val fwd = broadcast(idx.forward.get)
    // witness cluster ids: labels0 rows pruned to the CANDIDATE
    // pairs' d1 buckets — already collected inside the probe, a
    // superset of the verified witnesses' buckets (the d1 equi-join
    // below keeps exactness), so the former mh:ingest:pairs
    // round-trip is gone
    val corpusPairs = pairs.filter(col("src") === "corpus")
    val lab0 = idx.labels0.get
      .filter(col("qb").isin(candBuckets.toSeq: _*))
      .select(col("doc_id").as("d1"), col("cid0"))
    val corpusEdges = corpusPairs.join(lab0, "d1")
      .join(fwd, col("cid0") === col("cid_from"), "left")
      .select(coalesce(col("cid_to"), col("cid0")).as("u"),
        col("d2").as("v"))
    val shardEdges = pairs.filter(col("src") === "increment")
      .select(col("d1").as("u"), col("d2").as("v"))
    val cidNodes = Scope.cache(
      corpusEdges.select(col("u").as("doc_id")).distinct())
    val nodes = shardC.select("doc_id").unionByName(cidNodes)
    val sub = Scope.cache(ConnectedComponents.labels(
      nodes, corpusEdges.unionByName(shardEdges)))
    // moved clusters → new forwarding entries; old entries re-point
    // through this ingest's moves so the map stays single-hop
    val moved = sub.join(cidNodes, Seq("doc_id"))
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as("cid_from"),
        col("cluster_id").as("cid_to"))
    val movedB = broadcast(moved)
    val newFwd = idx.forward.get.alias("f")
      .join(movedB.alias("m"), col("f.cid_to") === col("m.cid_from"),
        "left")
      .select(col("f.cid_from"),
        coalesce(col("m.cid_to"), col("f.cid_to")).as("cid_to"))
      .unionByName(moved)
    val shardLabels = sub.join(shardC.select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id").as("cid0"))
    // the forwarding map is REPLACED (not accreted) every ingest, so
    // it stages under its OWN top-level uuid: when the next ingest
    // drops this F line, the whole dir goes unreferenced and vacuum
    // can sweep it — under the shard's uuid it would hide forever
    // behind the still-live bands/shingles/labels
    val fwdDirName = UUID.randomUUID().toString
    // the two CC-dependent AQE-off staging targets (labmem,
    // forwarding map) overlap each other (guide §2.6); the shard write
    // has been running since before the CC — the CAS commit below
    // joins all three
    Scope.fork(spark, "mh:ingest:write:labmem")(
      writeLabelsAndMembers(Scope.staged(shardLabels), q, v + 1,
        s"$root/data/$dirName"))
    Scope.fork(spark, "mh:ingest:write:fwd")(
      Scope.staged(newFwd).write.parquet(s"$root/data/$fwdDirName/forward"))
    // an UNTAGGED ingest must PRESERVE the committed streaming tag —
    // erasing it would let a crash-replayed stream batch re-ingest
    // after any interleaved ad-hoc ingest
    val rec = Rec(
      if (tag.isDefined)
        head.kv.filterNot(_._1 == "tag") ++
          tag.map(t => "tag" -> t.toString)
      else head.kv,
      head.dirs.filter(_._1 != "F") ++ Seq(
        "B" -> s"$dirName/bands", "S" -> s"$dirName/shingles") ++
        labelDirs(dirName) :+ ("F" -> s"$fwdDirName/forward"))
    preCommitHook(v) // test seam: races injected between stage + CAS
    ArtifactLog.commit(root, Kind, v, rec, store)
  }

  /** Tombstone-delete docs from the index — the takedown path
    * (reference mirror: deleting a package cascades to its resource
    * and matchcode index rows, packagedb/models.py FK on_delete).
    * The band/shingle side is O(ids): the id set stages as a tiny
    * `T` dir, filtered at the load seam and physically folded at
    * [[compact]] — corpus band/shingle files are never read or
    * rewritten.
    *
    * On a LABELED index the cluster structure needs the inverse of
    * [[ingestLabeled]]'s merge handling: a deleted doc can be the
    * BRIDGE holding a component together, so its removal can SPLIT
    * the cluster — which no forwarding entry can express (one id
    * cannot forward to many). The contraction argument runs in
    * reverse, O(touched clusters), never a corpus relabel:
    *
    *   1. the deleted docs' current labels (label rows pruned to the
    *      deleted ids' ≤Q doc-buckets, forwarded) give the TOUCHED
    *      cluster set;
    *   2. the members MIRROR ([[writeLabelsAndMembers]]'s side=m
    *      subtree, cluster-bucketed)
    *      pruned to the touched ids' buckets — plus the forwarding
    *      entries that point INTO them — gives a candidate member
    *      superset; each candidate's newest label row confirms
    *      current membership (stale mirror rows cost probe rows,
    *      never correctness);
    *   3. the surviving members' shingles (pruned to their ≤Q
    *      buckets) re-run band → collide → exact-verify → CC, an
    *      O(touched) subgraph recompute; every touched survivor gets
    *      a fresh higher-gen label row — component pieces get their
    *      new min-ids, and untouched clusters are untouched because
    *      a component's edges never leave it;
    *   4. forwarding entries into touched clusters drop (their merges
    *      were just recomputed from content); the rest survive.
    *
    * Resolved labels afterward equal a from-scratch CC over the
    * corpus minus the deleted docs EXACTLY — `d_dedup_index_delete`
    * gates it against the recursive-CC oracle, splits included.
    *
    * Concurrency follows [[ingestLabeled]]: a lost CAS PROPAGATES
    * (the recompute resolved against this version's labels; rebasing
    * could commit stale structure) and the caller re-runs. Replay
    * `tag` semantics as in ingest, for streaming takedown feeds. An
    * UNLABELED index skips steps 1-4 (nothing but the tombstone to
    * maintain). Pre-delete versions still time-travel complete until
    * [[vacuum]]; a takedown that must erase history too is
    * vacuum(keep = 1) after the delete commit. */
  def delete(spark: SparkSession, root: String, ids: DataFrame,
      store: CommitStore = LinkCommitStore,
      tag: Option[Long] = None,
      preCommitHook: Long => Unit = _ => (),
      tagKey: String = "tag"): Long = {
    require(ArtifactLog.TagKeys(tagKey), s"unknown tag channel $tagKey")
    val (v, head) = ArtifactLog.latest(root, Kind)
    tag.foreach { t =>
      val committed = head.kvMap.get(tagKey).map(_.toLong)
      if (committed.exists(_ >= t)) return v // replayed batch: no-op
    }
    val del = Scope.cache(ids.select("doc_id").distinct())
    val labeled = head.kvMap.get("lab").contains("1")
    val dirName = UUID.randomUUID().toString
    if (!labeled) {
      if (graft.core.labeled(spark, "mh:del:emptyCheck")(del.isEmpty))
        return v // nothing to tombstone, no version burn
      graft.core.labeled(spark, "mh:del:tombs")(
        Scope.staged(del).write.parquet(s"$root/data/$dirName/tombs"))
    }

    val labDirs =
      if (!labeled) Nil
      else {
        val idx = loadAt(spark, root, v) // prior tombs already filtered
        val q = idx.shingleBuckets
        val fwd = Scope.cache(idx.forward.get)
        // 1. touched clusters: the deleted docs' current labels. The
        // bucket collect doubles as the emptiness gate (was a separate
        // isEmpty job): delQb is empty iff `del` is
        val delQb = graft.core.labeled(spark, "mh:del:delQb")(del
          .select(pmod(col("doc_id"), lit(q.toLong)).cast("int").as("qb"))
          .distinct().collect().map(_.getInt(0))) // ≤ Q by pigeonhole
        if (delQb.isEmpty)
          return v // nothing to tombstone, no version burn
        // the tombstone write depends only on `del` — overlap it with
        // the serial recompute chain below (guide §2.6); the commit
        // joins it. Planned under AQE: the plan has no exchange.
        Scope.fork(spark, "mh:del:tombs")(
          del.write.parquet(s"$root/data/$dirName/tombs"))
        // 2. candidate clusters: the touched set (the deleted docs'
        // resolved labels) PLUS forwarding sources pointing into it.
        // One collect answers both (the touched→intoTouched pair used
        // to be two serial driver round-trips): the touched subplan
        // is scoped-cached so its union branches compute it once, and
        // the flag column keeps the two sets apart on the driver.
        val touchedDF = Scope.cache(idx.labels0.get
          .filter(col("qb").isin(delQb.toSeq: _*))
          .join(del, Seq("doc_id"))
          .join(broadcast(fwd), col("cid0") === col("cid_from"), "left")
          .select(coalesce(col("cid_to"), col("cid0")).as("cid"))
          .distinct()) // ≤ |deleted ids| rows
        val affRows = graft.core.labeled(spark, "mh:del:touched")(
          touchedDF.select(col("cid"), lit(true).as("t"))
            .unionByName(fwd
              .join(touchedDF, col("cid_to") === col("cid"))
              .select(col("cid_from").as("cid"), lit(false).as("t")))
            .collect())
        val touched = affRows.filter(_.getBoolean(1))
          .map(_.getLong(0)).distinct
        val affected = affRows.map(_.getLong(0)).distinct
        val affectedMb = affected.map(c => (c % q).toInt).distinct
        val candDocs = Scope.cache(
          readDirs(spark, root, head.dirsOf("M"))
            .withColumnRenamed("b", "mb") // labmem/side=m bucket col
            .filter(col("mb").isin(affectedMb.toSeq: _*) &&
              col("cid0").isin(affected.toSeq: _*))
            .select("doc_id").distinct())
        // 3. confirm membership on the NEWEST label row, drop the
        // deleted, and re-run CC on the survivors' actual content
        val candQb = graft.core.labeled(spark, "mh:del:candQb")(candDocs
          .select(pmod(col("doc_id"), lit(q.toLong)).cast("int").as("qb"))
          .distinct().collect().map(_.getInt(0))) // ≤ Q
        val survivors = Scope.cache(idx.labels0.get
          .filter(col("qb").isin(candQb.toSeq: _*))
          .join(candDocs, Seq("doc_id"))
          .join(broadcast(fwd), col("cid0") === col("cid_from"), "left")
          .filter(coalesce(col("cid_to"), col("cid0"))
            .isin(touched.toSeq: _*))
          .join(broadcast(del), Seq("doc_id"), "left_anti")
          .select("doc_id"))
        val survQb = graft.core.labeled(spark, "mh:del:survQb")(survivors
          .select(pmod(col("doc_id"), lit(q.toLong)).cast("int").as("qb"))
          .distinct().collect().map(_.getInt(0))) // ≤ Q
        // survivors exist iff any survivor bucket does — the bucket
        // collect above already answers the emptiness probe the
        // labmem write needs (was a separate isEmpty job)
        val hasSurvivors = survQb.nonEmpty
        val ssh = Scope.cache(idx.shingles
          .filter(col("qb").isin(survQb.toSeq: _*))
          .join(survivors, Seq("doc_id"))
          .select("doc_id", "sh"))
        val bb = Scope.cache(DedupOps.bandFrame(ssh))
        val cand = bb.alias("a").join(bb.alias("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.band_hash") === col("b.band_hash") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .dropDuplicates("d1", "d2")
        val edges = DedupOps.verifyPairs(ssh, cand)
          .select(col("d1").as("u"), col("d2").as("v"))
        // the subgraph-CC output feeds both writes — scoped-cached
        // like the other delete-path frames
        val relabeled = Scope.cache(
          ConnectedComponents.labels(survivors, edges)
            .select(col("doc_id"), col("cluster_id").as("cid0")))
        // 4. forwarding entries into touched clusters die with the
        // recompute; the map is REPLACED, like ingest (own uuid so
        // the dropped dir becomes vacuum-sweepable). Both staging
        // writes are independent AQE-off stages — overlap them
        // (guide §2.6); the commit joins them and the tombstones.
        val fwdDirName = UUID.randomUUID().toString
        Scope.fork(spark, "mh:del:write:labmem")(
          writeLabelsAndMembers(Scope.staged(relabeled), q, v + 1,
            s"$root/data/$dirName", partitioned = hasSurvivors))
        Scope.fork(spark, "mh:del:write:fwd")(
          Scope.staged(fwd.filter(!col("cid_to").isin(touched.toSeq: _*)))
            .write.parquet(s"$root/data/$fwdDirName/forward"))
        labelDirs(dirName) :+ ("F" -> s"$fwdDirName/forward")
      }
    val rec = Rec(
      if (tag.isDefined)
        head.kv.filterNot(_._1 == tagKey) ++
          tag.map(t => tagKey -> t.toString)
      else head.kv,
      (if (labeled) head.dirs.filter(_._1 != "F") else head.dirs) ++
        (("T" -> s"$dirName/tombs") +: labDirs))
    preCommitHook(v) // test seam: races injected between stage + CAS
    ArtifactLog.commit(root, Kind, v, rec, store)
  }

  /** Every indexed doc's CURRENT cluster id: label-at-write resolved
    * through the broadcast forwarding map. Row-identical to a
    * from-scratch CC over the same corpus (see [[ingestLabeled]]). */
  def resolvedLabels(index: MinhashIndex): DataFrame = {
    val fwd = broadcast(index.forward.getOrElse(throw
      new IllegalArgumentException("index was saved without labels")))
    index.labels0.get
      .join(fwd, col("cid0") === col("cid_from"), "left")
      .select(col("doc_id"),
        coalesce(col("cid_to"), col("cid0")).as("cluster_id"))
  }

  /** Prune history (shared [[ArtifactLog]] sweep: kept records pin
    * their dirs, the grace window protects in-flight staging, aged
    * dot-orphans go). */
  def vacuum(root: String, keep: Int = 2,
      graceMs: Long = 15 * 60 * 1000L): Unit =
    ArtifactLog.vacuum(root, Kind, keep, graceMs)
}
