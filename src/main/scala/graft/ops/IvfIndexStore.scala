package graft.ops

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Scope
import graft.catalog.{CommitStore, LinkCommitStore, TxLog}
import graft.ops.ArtifactLog.Rec

/** The persisted IVF index as a first-class, versioned on-disk
  * artifact — the piece the `s_ann_increment` query could only
  * SIMULATE (a bench query owns no cross-run artifacts, so it
  * retrains the corpus index inline every run and its 100× point
  * carries the rebuild's k ∝ corpus shuffle). A deployment keeps the
  * index on disk and pays only the increment: this store makes that
  * amortization code instead of a comment.
  *
  * Layout (FAISS IVF-Flat shape: centroids + inverted lists carrying
  * the member vectors):
  *
  * {{{
  *   root/_commits/v<20-digit>      one record per committed version
  *   root/data/<uuid>/centroids/    (cid, cv: array<bigint>, cn2)
  *   root/data/<uuid>/cells/        (vec_id, v, n2, cell, pb)
  *   root/data/<uuid>/attrs/        (vec_id, <metadata…>, ab)  [attr-flagged]
  * }}}
  *
  * Records are the [[ArtifactLog]] shape (header `#ivf k=.. p=..`, one
  * `C` line, one `D` line per cells shard): every version is a
  * self-contained manifest CAS-committed through the same
  * [[graft.catalog.CommitStore]] primitive as the catalog, so link(2)
  * and conditional-PUT deployments use the identical protocol and
  * concurrent appenders serialize with stage → CAS → rebase.
  * [[compact]] folds the shard list back to one dir when it grows.
  *
  * Inverted lists are hash-bucketed on disk: `pb = cell % P` is a
  * Hive partition column with P ∝ k/16 (so ~16 cells per bucket and
  * the dir count stays object-store-sane at any k — 10⁹ vectors →
  * k ≈ 1.6e7 cells → ~10⁶ dirs would be too many at P=k, but P=k/16
  * with multi-cell buckets stays at ~10⁵ while keeping each bucket a
  * constant ~16 × 64 = 1k vectors). [[shortlist]] collects the ≤ P
  * DISTINCT probed buckets (never the probed cells — the collect is
  * bounded by P, not by increment × nprobe) and pushes `pb IN (…)`
  * into the scan, so a small increment's candidate read prunes to the
  * touched buckets instead of scanning the corpus
  * (pruned read bytes measured flat-vs-corpus: BASELINE.md "Round-12
  * addendum 3").
  *
  * Exactness: vectors are already exact integers
  * ([[SimilarityOps.quantized]]), centroids/cells persist as bigint
  * arrays, and parquet roundtrips integers bit-for-bit — so the
  * loaded index's shortlist is row-identical to the in-memory
  * `s_ann_increment` plan, and the DuckDB oracle that replays the
  * arithmetic end-to-end gates the whole save → load → probe path
  * (`s_ann_index_lifecycle`, `s_ann_index_append`).
  */
object IvfIndexStore {

  /** A loaded index version. `centroids` is broadcast-hinted (the
    * k × dim frame is the small side of every assignment join);
    * `cells` carries the member vectors (IVF-Flat) plus the `pb`
    * bucket column. `attrs`/`attrBuckets` are present iff the index
    * was saved with an attribute sidecar ([[save]]'s `attrs`): the
    * per-vector metadata columns filtered vector search predicates
    * run against, hash-bucketed by `ab = vec_id % attrBuckets` —
    * INDEPENDENT of the centroid structure, so retrain never
    * rewrites them (cell-keyed bucketing would go stale the moment
    * the coarse quantizer moved). */
  final case class IvfIndex(version: Long, k: Int, buckets: Int,
      centroids: DataFrame, cells: DataFrame,
      attrs: Option[DataFrame] = None, attrBuckets: Int = 0)

  /** A loaded IVF-PQ version: the flat index (centroids + raw-vector
    * inverted lists, still the re-rank / retrain / drift-monitor
    * substrate) plus the PQ layer — broadcast-hinted dense codebooks
    * (sub, cid, cv, cvn2) and the packed code table
    * (vec_id, code: array<int>, cell, pb). The codes table is the
    * one ADC scans: m ints + a cell id per vector vs the flat lists'
    * dim × 8 B arrays (~30× fewer bytes at m=4 × 64 dims; 64× at the
    * FAISS-typical m=16 × 768 float dims) — the raw vectors are read
    * only for the ≤ L×|queries| shortlist re-rank. */
  final case class IvfPqIndex(flat: IvfIndex, m: Int, subDim: Int,
      books: DataFrame, codes: DataFrame, residual: Boolean = false) {
    def version: Long = flat.version
    def buckets: Int = flat.buckets
  }

  private val Kind = "ivf"

  /** ~16 cells per on-disk bucket; floor of 8 keeps tiny test
    * indexes multi-bucket so the pruning path is always ENGAGED, and
    * the 65536 cap bounds the dir count at object-store scale (same
    * rationale as [[MinhashIndexStore.defaultBuckets]]). */
  def defaultBuckets(k: Int): Int =
    math.min(65536, math.max(8, k / 16))

  private def dot(a: String, b: String) =
    graft.functions.GraftFunctions.dot_long(col(a), col(b))

  private def mkRec(k: Int, buckets: Int, centroidDir: String,
      cellDirs: Seq[String]): Rec =
    Rec(Seq("k" -> k.toString, "p" -> buckets.toString),
      ("C" -> centroidDir) +: cellDirs.map("D" -> _))

  /** Tombstone dirs are tiny unpartitioned (vec_id) tables — read
    * whole, broadcast, anti-joined. None → no filter in any plan. */
  private def readTombs(spark: SparkSession, root: String,
      dirs: Seq[String]): Option[DataFrame] =
    if (dirs.isEmpty) None
    else Some(dirs.sorted
      .map(d => spark.read.parquet(s"$root/data/$d"))
      .reduce(_ unionByName _))

  private def dropTombs(df: DataFrame, tombs: Option[DataFrame])
      : DataFrame = tombs match {
    case Some(t) => df.join(broadcast(t), Seq("vec_id"), "left_anti")
    case None => df
  }

  /** Shard dirs are each a partitioned (pb=N) table root; Spark's
    * partition discovery refuses a multi-root scan without a common
    * basePath, so each dir reads under its own basePath and the
    * shards union — the unions are FEW (one per un-compacted shard,
    * bounded by [[compact]]'s cadence) and unionByName keeps the
    * partition column positional drift out. */
  private def readCellDirs(spark: SparkSession, root: String,
      dirs: Seq[String]): DataFrame =
    dirs.sorted
      .map(d => spark.read.option("basePath", s"$root/data/$d")
        .parquet(s"$root/data/$d"))
      .reduce(_ unionByName _)

  private def writeCells(cells: DataFrame, buckets: Int, dir: String,
      rowGroup: Int = 0): Unit = {
    val w = cells
      .select(col("vec_id"), col("v"), col("n2"), col("cell"),
        pmod(col("cell"), lit(buckets.toLong)).cast("int").as("pb"))
      // one file per bucket per shard (see MinhashIndexStore
      // .writeShard — same object-store layout rationale); rows
      // vec_id-sorted within each file so parquet row-group/page
      // stats serve the ADC re-rank's id point-lookups (a task-local
      // sort — no extra shuffle)
      .repartition(col("pb"))
      .sortWithinPartitions(col("pb"), col("vec_id"))
      .write
    // rg is the persisted layout policy (record kv): bucket files
    // default to one row group, which makes an id point-lookup read
    // the whole file — a small parquet.block.size gives the In
    // pushdown row-group stats to skip against (the re-rank read drop
    // is in BASELINE.md "Round-12 addendum 9b")
    (if (rowGroup > 0) w.option("parquet.block.size", rowGroup) else w)
      .partitionBy("pb").parquet(dir)
  }

  /** One file per bucket per shard, like [[writeCells]]; the packed
    * code rows bucket on the SAME `pb = cell % P` as the raw-vector
    * lists, so a probe's bucket pruning applies identically to the
    * ADC code scan and the re-rank vector read. The codes table is
    * always scanned wholesale per bucket (never point-fetched), so
    * it keeps the default row-group size regardless of `rg`. */
  private def writeCodes(codes: DataFrame, buckets: Int, dir: String): Unit =
    codes
      .select(col("vec_id"), col("code"), col("cell"),
        pmod(col("cell"), lit(buckets.toLong)).cast("int").as("pb"))
      .repartition(col("pb"))
      .write.partitionBy("pb").parquet(dir)

  /** The attribute sidecar: one row per vector, the caller's
    * metadata columns plus `ab = vec_id % attrBuckets`, one file per
    * bucket per shard (the shared object-store layout). Bucketing by
    * vec_id (NOT cell) keeps the sidecar orthogonal to the coarse
    * quantizer — [[retrain]] replaces centroids and lists without
    * touching it — and serves [[fetchAttrs]]' point-lookups pruned.
    * The predicate read path ([[shortlist]]'s `pred`) instead
    * column-prunes: a scan of (vec_id + predicate columns) with the
    * predicate pushed to parquet, which at vector-store ratios
    * (≈10 B of attrs vs ≈0.5-6 KB of vector per row) is 2-3 orders
    * of magnitude under the vector bytes the filter saves scoring
    * (BASELINE.md "filtered vector search" measures both sides). */
  private def writeAttrs(attrs: DataFrame, buckets: Int,
      dir: String): Unit =
    attrs
      .withColumn("ab",
        pmod(col("vec_id"), lit(buckets.toLong)).cast("int"))
      .repartition(col("ab"))
      .write.partitionBy("ab").parquet(dir)

  /** ~256 rows per attr bucket ([[MinhashIndexStore.defaultBuckets]]
    * sizing: buckets must outnumber a point-lookup's ids for the
    * pruned path to skip; cap bounds dir count at object-store
    * scale). */
  def defaultAttrBuckets(n: Long): Int =
    math.min(65536L, math.max(8L, n / 256L)).toInt

  /** Train on `corpus` (a [[SimilarityOps.quantized]]-shaped frame:
    * vec_id, v, n2) and commit version 1: centroids via the
    * integer-exact Lloyd pass, cells = corpus assignment on the
    * trained centroids. Returns the committed version. */
  def save(root: String, corpus: DataFrame, k: Int,
      store: CommitStore = LinkCommitStore, iters: Int = 1,
      attrs: Option[DataFrame] = None): Long = Scope {
    TxLog.init(root)
    // the Lloyd-iteration subplan behind the centroids feeds THREE
    // actions (empty check, centroid write, cell assignment) — cache
    // it for this call so it runs once (like
    // MinhashIndexStore.save's corpus cache)
    val cents = Scope.cache(SimilarityOps.ivfCentroids(corpus, k, iters))
    val sess = corpus.sparkSession
    graft.core.labeled(sess, "ivf:save") {
      // the attr sidecar's bucket sizing (a count over the attrs
      // frame) is independent of training — overlap it with the
      // train gate and the staging writes (guide §2.6)
      val apFut = attrs.map(a => Scope.fork(sess, "ivf:save:attrs-n")(
        defaultAttrBuckets(a.count())))
      require(!graft.core.labeled(sess, "ivf:save:train")(cents.isEmpty),
        "IVF save needs a non-empty training corpus (the coarse " +
          "quantizer cannot train on nothing — unlike the dedup " +
          "index, there is no empty-index bootstrap; re-save when " +
          "data exists)")
      val cells = SimilarityOps.ivfCells(corpus, cents)
      val dirName = UUID.randomUUID().toString
      // ALL independent staging writes — centroids, cells, and the
      // attr sidecar — overlap (guide §2.6) and the commit joins
      // them; the attr write joins its own bucket count, so the
      // sizing job overlaps the other writes too
      Scope.fork(sess, "ivf:save:write:centroids")(
        cents.write.parquet(s"$root/data/$dirName/centroids"))
      Scope.fork(sess, "ivf:save:write:cells")(
        writeCells(cells, defaultBuckets(k), s"$root/data/$dirName/cells"))
      attrs.zip(apFut).foreach { case (a, f) =>
        Scope.fork(sess, "ivf:save:write:attrs")(
          writeAttrs(a, f(), s"$root/data/$dirName/attrs"))
      }
      val attrKv = apFut.toSeq.map(f => "ap" -> f().toString)
      val base = mkRec(k, defaultBuckets(k), s"$dirName/centroids",
        Seq(s"$dirName/cells"))
      val rec = Rec(base.kv ++ attrKv,
        base.dirs ++ attrs.toSeq.map(_ => "A" -> s"$dirName/attrs"))
      val v = ArtifactLog.list(root).headOption.map(_._1).getOrElse(0L)
      ArtifactLog.commit(root, Kind, v, rec, store)
    }
  }

  def load(spark: SparkSession, root: String): IvfIndex = {
    val recs = ArtifactLog.list(root)
    require(recs.nonEmpty, s"$root has no committed index")
    loadAt(spark, root, recs.head._1)
  }

  /** Time travel: the index as of `version` — every record is a full
    * manifest, so any retained version reads directly. Tombstoned
    * vectors ([[delete]]) are filtered here, at the load seam, so
    * EVERY downstream read — shortlist, ADC, cellStats/drift, retrain
    * corpus — sees the post-delete index without per-path handling
    * (a broadcast anti-join against the tiny tombstone set; zero plan
    * change when no deletes are committed). */
  def loadAt(spark: SparkSession, root: String, version: Long): IvfIndex = {
    val r = ArtifactLog.recordAt(root, Kind, version)
    val cents = broadcast(
      spark.read.parquet(s"$root/data/${r.dirsOf("C").head}"))
    val tombs = readTombs(spark, root, r.dirsOf("T"))
    IvfIndex(version, r.kvMap("k").toInt, r.kvMap("p").toInt, cents,
      dropTombs(readCellDirs(spark, root, r.dirsOf("D")), tombs),
      if (r.dirsOf("A").isEmpty) None
      else Some(dropTombs(readCellDirs(spark, root, r.dirsOf("A")),
        tombs)),
      r.kvMap.get("ap").map(_.toInt).getOrElse(0))
  }

  /** Train and commit an IVF-PQ index: the flat layer ([[save]]'s
    * centroids + raw-vector inverted lists — still the re-rank,
    * retrain, and drift-monitor substrate) PLUS per-subspace PQ
    * codebooks (`m` subspaces, ≤ `ksub` centroids each, dense ids)
    * and the packed code table. The record carries the PQ params
    * (`m=`, `sd=`, `ks=`) and two extra dir kinds — `B` (books), `Q`
    * (one codes shard per ingest, parallel to the `D` cells shards) —
    * so a flat reader's [[load]] still works on a PQ record (it
    * ignores the extra lines) while [[loadPq]] requires them. */
  /** `residual = true` selects RESIDUAL PQ (Jégou et al.'s IVFADC
    * proper, FAISS `by_residual=true`): codebooks train on and codes
    * encode x − c(cell) rather than raw x, concentrating the
    * quantizer's budget on within-cell variation. Cost: per-(query,
    * probed-cell) ADC tables (nprobe× more table rows, still a
    * broadcast) and a centroid join on the encode path (broadcast, no
    * shuffle). Measured honestly (BASELINE.md "Round-13: nprobe/recall
    * operating grid + residual PQ"): recall@3 = 1.00 at 10×/100× like
    * the raw path, and at the 1×
    * toy budget (m=4, ksub=16, ~64-wide cells) residuals do NOT
    * rescue the 0.70 dip (0.63) — the grids show that dip is
    * SHORTLIST-PRECISION truncation (recall falls as nprobe grows at
    * fixed L, climbs with L), so the operating knobs there are L and
    * ksub, with by-residual the standard default at production
    * budgets (FAISS trains IVF with residuals for exactly the
    * within-cell-variance reason). The flag persists in the record
    * (`res=1`); appends, retrain, and the ADC probe all dispatch on
    * it; `s_ann_index_pq_residual` gates the arithmetic end-to-end. */
  def savePq(root: String, corpus: DataFrame, k: Int, m: Int,
      ksub: Int, store: CommitStore = LinkCommitStore,
      iters: Int = 1, rowGroupBytes: Int = 0,
      residual: Boolean = false,
      attrs: Option[DataFrame] = None): Long = Scope {
    TxLog.init(root)
    // feeds coarse train + assign + PQ train + encode
    val corp = Scope.cache(corpus)
    val sess = corpus.sparkSession
    // the attr sidecar's bucket sizing (a count over the attrs
    // frame) is independent of training — overlap it with the
    // whole train/encode chain (guide §2.6) and join at record
    // render time
    val apFut = attrs.map(a => Scope.fork(sess, "pq:attrs-n")(
      defaultAttrBuckets(a.count())))
    // one limit(1) action answers BOTH the non-empty gate and the
    // dimension probe (was an isEmpty + a head() — two jobs)
    val dimOpt = graft.core.labeled(sess, "pq:corp")(
      corp.select(size(col("v"))).limit(1).collect().headOption
        .map(_.getInt(0)))
    require(dimOpt.isDefined,
      "IVF-PQ save needs a non-empty training corpus (same " +
        "no-empty-bootstrap rule as save)")
    val dim = dimOpt.get
    require(dim % m == 0,
      s"vector dim $dim is not divisible by m=$m subspaces")
    val subDim = dim / m
    val cents = Scope.cache(SimilarityOps.ivfCentroids(corp, k, iters))
    // NON-residual books train on the raw corpus — independent of
    // the coarse quantizer, so the two Lloyd passes overlap
    // (guide §2.6). Residual books need cents first (they train on
    // x − c(cell)) and stay sequential below.
    val booksEager =
      if (residual) None
      else Some(Scope.cache(SimilarityOps.pqCodebooks(corp, m, subDim,
        ksub, iters)))
    // the training counts ARE the non-empty gates (was a count
    // plus a separate isEmpty job per trained frame)
    val centsN = Scope.fork(sess, "pq:coarse-train")(cents.count())
    val booksEagerN =
      booksEager.map(b => Scope.fork(sess, "pq:book-train")(b.count()))
    require(centsN() > 0,
      "IVF-PQ training produced no centroids (the default low-id " +
        "seeding needs corpus ids below k; pass explicit seeds " +
        "otherwise)")
    val dirName = UUID.randomUUID().toString
    val buckets = defaultBuckets(k)
    // the trained centroid frame is final here — its staging
    // write depends on nothing below, so it overlaps the whole
    // assign/book-train/encode chain (guide §2.6); the commit joins it
    Scope.fork(sess, "pq:write:centroids")(
      cents.write.parquet(s"$root/data/$dirName/centroids"))
    // the trained-centroid assignment feeds TWO sinks (the cells
    // table write and the PQ encode / residual path) — cache for
    // the call's scope or the broadcast argmin pass runs twice
    val cells = Scope.cache(SimilarityOps.ivfCells(corp, cents))
    // residual PQ trains and encodes on x − c(cell); the residual
    // frame feeds book training AND the encode, so it caches for
    // the call's scope
    val resid =
      if (residual) Some(Scope.cache(SimilarityOps.residuals(cells, cents)))
      else None
    val books = booksEager.getOrElse(Scope.cache(SimilarityOps.pqCodebooks(
      resid.getOrElse(corp), m, subDim, ksub, iters)))
    // residual books train only here — their materializing count is
    // the gate (the non-residual count runs in the overlapped train)
    val booksN = booksEagerN.map(_()).getOrElse(
      graft.core.labeled(sess, "pq:book-train")(books.count()))
    require(booksN > 0,
      "IVF-PQ training produced no codebooks (the default " +
        "low-id seeding needs corpus ids below ksub; pass " +
        "explicit seeds otherwise)")
    // encode carries the coarse cell through the argmin, so
    // the code table buckets like the lists WITHOUT an n×n
    // re-join of codes to assignment
    val codes = SimilarityOps.pqEncode(
      resid.getOrElse(cells), books, m, subDim,
      carry = Seq("cell"))
    // the remaining independent staging writes to separate dirs
    // overlap (guide §2.6) — the commit record below is written only
    // after all of them (and the centroid write) complete, so
    // atomicity is unchanged
    Scope.fork(sess, "pq:write:books")(
      books.write.parquet(s"$root/data/$dirName/books"))
    Scope.fork(sess, "pq:write:cells")(
      writeCells(cells, buckets, s"$root/data/$dirName/cells",
        rowGroupBytes))
    Scope.fork(sess, "pq:write:codes")(
      writeCodes(codes, buckets, s"$root/data/$dirName/codes"))
    attrs.zip(apFut).foreach { case (a, f) =>
      Scope.fork(sess, "pq:write:attrs")(
        writeAttrs(a, f(), s"$root/data/$dirName/attrs"))
    }
    val attrKv = apFut.toSeq.map(f => "ap" -> f().toString)
    val rec = Rec(
      Seq("k" -> k.toString, "p" -> buckets.toString,
        "m" -> m.toString, "sd" -> subDim.toString,
        "ks" -> ksub.toString) ++
        (if (rowGroupBytes > 0)
          Seq("rg" -> rowGroupBytes.toString) else Nil) ++
        (if (residual) Seq("res" -> "1") else Nil) ++ attrKv,
      Seq("C" -> s"$dirName/centroids", "B" -> s"$dirName/books",
        "D" -> s"$dirName/cells", "Q" -> s"$dirName/codes") ++
        attrs.toSeq.map(_ => "A" -> s"$dirName/attrs"))
    val v = ArtifactLog.list(root).headOption.map(_._1).getOrElse(0L)
    ArtifactLog.commit(root, Kind, v, rec, store)
  }

  def loadPq(spark: SparkSession, root: String): IvfPqIndex = {
    val recs = ArtifactLog.list(root)
    require(recs.nonEmpty, s"$root has no committed index")
    loadPqAt(spark, root, recs.head._1)
  }

  /** Time travel for the PQ layer — mirrors [[loadAt]]. */
  def loadPqAt(spark: SparkSession, root: String, version: Long)
      : IvfPqIndex = {
    val r = ArtifactLog.recordAt(root, Kind, version)
    require(r.dirsOf("B").nonEmpty,
      s"version $version of $root is a flat IVF record (no PQ " +
        "layer); save with savePq, or load with load")
    val books = broadcast(
      spark.read.parquet(s"$root/data/${r.dirsOf("B").head}"))
    IvfPqIndex(loadAt(spark, root, version),
      r.kvMap("m").toInt, r.kvMap("sd").toInt, books,
      dropTombs(readCellDirs(spark, root, r.dirsOf("Q")),
        readTombs(spark, root, r.dirsOf("T"))),
      residual = r.kvMap.get("res").contains("1"))
  }

  /** The shared stage→CAS→rebase tail of [[append]]/[[appendPq]]:
    * commit `newDirs` onto the live record, preserving or advancing
    * the replay tag, retrying through conflicts. The replay tag is
    * RE-CHECKED inside the loop against each freshly-read head — the
    * entry-time check alone loses the zombie-driver race (two
    * drivers replay the same stream batch concurrently, both pass
    * the entry check, one commits, and the loser's rebase would
    * otherwise commit the same tag's shard AGAIN, duplicating every
    * vector of the batch). An UNTAGGED append must PRESERVE the
    * committed streaming tag — erasing it would let a crash-replayed
    * stream batch double-append after any interleaved ad-hoc
    * append. */
  private def casAppend(root: String, head: Rec,
      newDirs: Seq[(String, String)], tag: Option[Long],
      store: CommitStore, maxRetries: Int,
      tagKey: String = "tag"): Long = {
    var attempt = 0
    while (true) {
      val (v, latest) = ArtifactLog.latest(root, Kind)
      tag.foreach { t =>
        val committed = latest.kvMap.get(tagKey).map(_.toLong)
        if (committed.exists(_ >= t)) return v
      }
      require(latest.kvMap.filterNot(kv => ArtifactLog.TagKeys(kv._1)) ==
          head.kvMap.filterNot(kv => ArtifactLog.TagKeys(kv._1)) &&
        latest.dirsOf("C") == head.dirsOf("C") &&
        latest.dirsOf("B") == head.dirsOf("B"),
        "concurrent commit replaced the index structure (compact/save " +
          "raced this append); re-run against the new index")
      val rec = Rec(
        if (tag.isDefined)
          latest.kv.filterNot(_._1 == tagKey) ++
            tag.map(t => tagKey -> t.toString)
        else latest.kv,
        latest.dirs ++ newDirs)
      try return ArtifactLog.commit(root, Kind, v, rec, store)
      catch {
        case e: TxLog.CommitConflict =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** O(increment) shard ingest: assign `inc` (quantized frame) on the
    * FROZEN persisted centroids, stage only the increment's inverted-
    * list rows as a new shard dir, and CAS a record appending that
    * dir — corpus rows are never read, rewritten, or reassigned, and
    * a conflict rebases by re-listing (the staged shard dir stays
    * valid; only the record re-renders). Returns the new version. */
  def append(spark: SparkSession, root: String, inc: DataFrame,
      store: CommitStore = LinkCommitStore, maxRetries: Int = 10,
      tag: Option[Long] = None,
      attrs: Option[DataFrame] = None): Long = {
    val (v0, head) = ArtifactLog.latest(root, Kind)
    require(head.dirsOf("B").isEmpty,
      s"$root carries a PQ layer: a flat append would leave the new " +
        "shard without code rows and ADC probes would silently miss " +
        "it; use appendPq")
    requireAttrsMatch(head, attrs)
    tag.foreach { t =>
      // replay idempotence (the foreachBatch contract — see
      // graft.streaming.EmbeddingIngestStream): a batchId at or below
      // the committed tag already landed; do not double-append. This
      // entry check avoids staging work on replay; the authoritative
      // re-check is inside casAppend's loop.
      val committed = head.kvMap.get("tag").map(_.toLong)
      if (committed.exists(_ >= t)) return v0
    }
    val d = incDim(inc).getOrElse(return v0) // empty: nothing to stage
    val cents = broadcast(
      spark.read.parquet(s"$root/data/${head.dirsOf("C").head}"))
    requireDim(d, cents.select(size(col("cv"))).head().getInt(0))
    val assigned = SimilarityOps.ivfCells(inc, cents)
    val dirName = UUID.randomUUID().toString
    writeCells(assigned, head.kvMap("p").toInt,
      s"$root/data/$dirName/cells",
      head.kvMap.get("rg").map(_.toInt).getOrElse(0))
    attrs.foreach(a => writeAttrs(a, head.kvMap("ap").toInt,
      s"$root/data/$dirName/attrs"))
    casAppend(root, head, Seq("D" -> s"$dirName/cells") ++
      attrs.toSeq.map(_ => "A" -> s"$dirName/attrs"), tag, store,
      maxRetries)
  }

  /** An attr-flagged index must ingest each shard's attribute rows
    * WITH the shard (a bare append would leave the new vectors
    * invisible to every filtered probe — the semi-join drops what
    * the sidecar doesn't know); a flat index must not receive attrs
    * (they'd commit unreadable — no `ap` bucket count). The labeled
    * dedup index enforces its L-rows the same way
    * ([[MinhashIndexStore.append]]'s `lab` guard). */
  private def requireAttrsMatch(head: Rec,
      attrs: Option[DataFrame]): Unit = {
    val flagged = head.kvMap.contains("ap")
    require(attrs.isDefined == flagged,
      if (flagged) "attr-flagged index: pass the shard's attrs to " +
        "append (vectors without sidecar rows are invisible to " +
        "filtered probes)"
      else "index was saved without attrs; re-save with an attrs " +
        "sidecar to enable filtered search")
  }

  /** The increment's vector dimension, or None when it is empty. One
    * limit(1) job. Callers (a) no-op on None — a zero-row partitionBy
    * write emits no schema-bearing file, so staging an empty shard
    * would brick every later read of the dir — and (b) fail a
    * schema-drifted shard BEFORE it stages: `DotLong.compute`
    * truncates to min(len), so a wrong-dimension increment would
    * otherwise commit silently-corrupt cells (and PQ codes) — the
    * dimension check [[savePq]] makes at train time, made on every
    * ingest. */
  private def incDim(inc: DataFrame): Option[Int] =
    inc.select(size(col("v"))).limit(1).collect().headOption
      .map(_.getInt(0))

  private def requireDim(d: Int, indexDim: Int): Unit =
    require(d == indexDim,
      s"increment vector dim $d != index dim $indexDim: this " +
        "shard came from a different embedding schema; appending " +
        "it would corrupt the index (dot products truncate to " +
        "the shorter vector) — re-embed or re-train")

  /** [[append]] for an IVF-PQ index: assign the increment on the
    * frozen persisted centroids AND encode it on the frozen persisted
    * codebooks, stage both as one shard (a `D` cells dir + a `Q`
    * codes dir under one uuid), CAS-append. Still O(increment): the
    * reads are the k-row centroid frame and the m×ksub-row books;
    * corpus lists and corpus codes are never opened. Replay-tag
    * semantics identical to [[append]]. */
  def appendPq(spark: SparkSession, root: String, inc: DataFrame,
      store: CommitStore = LinkCommitStore, maxRetries: Int = 10,
      tag: Option[Long] = None,
      attrs: Option[DataFrame] = None): Long = {
    val (v0, head) = ArtifactLog.latest(root, Kind)
    require(head.dirsOf("B").nonEmpty,
      s"$root is a flat IVF index (no PQ layer); use append")
    requireAttrsMatch(head, attrs)
    tag.foreach { t =>
      // entry fast-path; the authoritative re-check is in casAppend
      val committed = head.kvMap.get("tag").map(_.toLong)
      if (committed.exists(_ >= t)) return v0
    }
    val d = incDim(inc).getOrElse(return v0) // empty: nothing to stage
    val cents = broadcast(
      spark.read.parquet(s"$root/data/${head.dirsOf("C").head}"))
    val books = broadcast(
      spark.read.parquet(s"$root/data/${head.dirsOf("B").head}"))
    val m = head.kvMap("m").toInt
    val subDim = head.kvMap("sd").toInt
    requireDim(d, m * subDim)
    Scope {
      // feeds BOTH the cells write and the encode path (run
      // concurrently below): cache so the assignment argmin runs once
      val assigned = Scope.cache(SimilarityOps.ivfCells(inc, cents))
      // a residual head (res=1) encodes the increment's RESIDUALS on
      // the frozen books — the same frozen-structure rule as the raw
      // path, with the broadcast centroid join supplying c(cell)
      val encIn =
        if (head.kvMap.get("res").contains("1"))
          SimilarityOps.residuals(assigned, cents)
        else assigned
      val codes = SimilarityOps.pqEncode(
        encIn, books, m, subDim, carry = Seq("cell"))
      val dirName = UUID.randomUUID().toString
      val buckets = head.kvMap("p").toInt
      // independent staging writes to separate dirs — overlap them
      // (guide §2.6); the commit joins them
      Scope.fork(spark, "ivf:appendPq:cells")(
        writeCells(assigned, buckets, s"$root/data/$dirName/cells",
          head.kvMap.get("rg").map(_.toInt).getOrElse(0)))
      Scope.fork(spark, "ivf:appendPq:codes")(
        writeCodes(codes, buckets, s"$root/data/$dirName/codes"))
      attrs.foreach(a => Scope.fork(spark, "ivf:appendPq:attrs")(
        writeAttrs(a, head.kvMap("ap").toInt,
          s"$root/data/$dirName/attrs")))
      casAppend(root, head,
        Seq("D" -> s"$dirName/cells", "Q" -> s"$dirName/codes") ++
          attrs.toSeq.map(_ => "A" -> s"$dirName/attrs"),
        tag, store, maxRetries)
    }
  }

  /** Tombstone-delete vectors from the index — the takedown path a
    * 100 TB training-data index needs (the reference's package
    * deletion cascades to its matchcode index rows the same way:
    * packagedb/models.py FK on_delete). O(ids), never O(corpus): the
    * id set stages as a tiny `T` dir and CAS-appends exactly like a
    * shard — the inverted lists and code tables are never read or
    * rewritten. Deleted ids are filtered at the LOAD seam (every
    * probe, drift read, and retrain sees the post-delete index) and
    * physically folded out at [[compact]], which also drops the `T`
    * lines. Works identically on flat and PQ indexes (the filter
    * applies to cells and codes alike).
    *
    * Concurrency mirrors [[append]]: rebase-on-conflict (the staged
    * tombstone dir stays valid under any interleaved append — its
    * filter applies to the union of all shards), and a racing
    * compact folds CONCURRENT tombstones correctly because the T
    * line lands after the fold and still filters the folded dirs. A
    * racing retrain replaces the index structure, so the rebase
    * check throws and the delete re-runs against the new version —
    * the retrain trained ON the to-be-deleted vectors, which is
    * exactly the state the caller must decide about. Replay-tag
    * semantics identical to [[append]] for streaming takedown feeds.
    *
    * Time travel is the flip side: a pre-delete version still reads
    * complete until [[vacuum]] prunes it — a takedown that must also
    * erase HISTORY is vacuum-with-keep=1 after the delete commit. */
  def delete(spark: SparkSession, root: String, ids: DataFrame,
      store: CommitStore = LinkCommitStore, maxRetries: Int = 10,
      tag: Option[Long] = None, tagKey: String = "tag"): Long = {
    require(ArtifactLog.TagKeys(tagKey), s"unknown tag channel $tagKey")
    val (v0, head) = ArtifactLog.latest(root, Kind)
    tag.foreach { t =>
      // entry fast-path; the authoritative re-check is in casAppend
      val committed = head.kvMap.get(tagKey).map(_.toLong)
      if (committed.exists(_ >= t)) return v0
    }
    val dirName = UUID.randomUUID().toString
    ids.select(col("vec_id")).distinct()
      .write.parquet(s"$root/data/$dirName/tombs")
    casAppend(root, head, Seq("T" -> s"$dirName/tombs"), tag, store,
      maxRetries, tagKey)
  }

  /** IVFADC probe (the shape of Jégou et al. §V, with one stated
    * deviation): coarse-probe the `nprobe` nearest cells per query,
    * ADC-score ONLY the probed cells' packed codes (the scan is
    * partition-pruned to the probed buckets and reads the m-int code
    * column — never the raw vectors), keep the top `shortlistL` per
    * query by exact integer ADC, then re-rank that shortlist with
    * exact integer squared-L2 against the raw vectors (also
    * bucket-pruned: shortlist members live in probed cells by
    * construction) and return the top `topK`.
    *
    * DEFAULT is NON-RESIDUAL PQ (FAISS `by_residual=false`): vectors
    * PQ-encode RAW; [[savePq]]'s `residual = true` selects the
    * paper's by-residual encoding (per-(query, cell) lookup tables —
    * see the flag's scaladoc). Measured on this corpus
    * (BASELINE.md "Round-13: nprobe/recall operating grid + residual
    * PQ"): recall@3 = 1.00 at 10×/100× under BOTH
    * encodings and every nprobe ∈ {1,2,4,8}; at the 1× toy budget
    * (m=4, ksub=16, ~64-wide cells) recall dips to 0.70 and the
    * grids attribute it to SHORTLIST truncation, not coarse coverage
    * or the encoding — recall FALLS as nprobe grows at fixed L=10
    * (more candidates compete for the same ADC slots and coarse
    * codes mis-rank them), residuals don't move it (0.63), and it
    * climbs with L. The exact re-rank bounds the damage to shortlist
    * membership, never final distances.
    *
    * 100 TB shape: the per-query lookup tables are a broadcast
    * (m × ksub bigints per query), scoring is one codegen'd
    * zip_with/aggregate per candidate row — no join, no shuffle of
    * vectors — and the only raw-vector read is the ≤ L×|queries|
    * re-rank. Candidate read bytes scale with probed-cell CODE bytes
    * (~m ints/vector), not member-vector bytes (dim × 8 B/vector):
    * BASELINE.md "Round-12 addendum 9" measures the ratio.
    * Integer-exact end to end, so the DuckDB oracle gates the whole
    * save → load → ADC → re-rank path bit-for-bit (`s_ann_index_pq`).
    *
    * Re-rank IO knobs: the In(vec_id) point fetch can only skip
    * what the storage exposes — default bucket files are one row
    * group, so a touched bucket reads whole ([[savePq]]'s
    * `rowGroupBytes` writes small row groups over the vec_id-sorted
    * layout for the stats to skip against), and Spark collapses an
    * In pushdown above `spark.sql.parquet.pushdown.inFilterThreshold`
    * (default 10) to a vacuous min/max range — deployments raise it
    * past L×|queries| (BASELINE.md "Round-12 addendum 9b"). */
  /** The ADC candidate frame — (qid, nid, adc) over the probed
    * cells' packed codes, bucket-pruned — plus the probed bucket
    * set (package-private so the spec can pin the pruned code-scan
    * plan in isolation; [[adcShortlist]] composes it). */
  private[graft] def adcCandidates(index: IvfPqIndex, queries: DataFrame,
      nprobe: Int,
      pred: Option[org.apache.spark.sql.Column] = None)
      : (DataFrame, Array[Int]) = {
    val qprobe = Scope.cache(
      SimilarityOps.probeCells(queries, index.flat.centroids, nprobe))
    val qp = qprobe.select(col("vec_id").as("qid"),
      col("cell").as("pcell"))
    val probedBuckets = qp
      .select(pmod(col("pcell"), lit(index.buckets.toLong)).cast("int")
        .as("pb"))
      .distinct().collect().map(_.getInt(0)) // ≤ P values by pigeonhole
    // non-residual: one m×ksub table per query. Residual: one table
    // per (query, probed cell) — the query's residual to the cell's
    // centroid is what the cell's codes quantized against — still a
    // broadcast (nprobe× the rows, bounded by |queries|×nprobe).
    val dtab = broadcast(
      if (!index.residual)
        SimilarityOps.pqDistTables(
          queries, index.books, index.m, index.subDim)
      else
        SimilarityOps.pqDistTables(
          SimilarityOps.residuals(qprobe, index.flat.centroids),
          index.books, index.m, index.subDim, carry = Seq("cell"))
          .withColumnRenamed("cell", "pcell"))
    val probedCodes =
      index.codes.filter(col("pb").isin(probedBuckets.toSeq: _*))
    // filtered IVFADC: the predicate runs on the attr sidecar and
    // the allowed ids semi-join the CODE scan — a failing candidate
    // never costs an ADC table lookup, and the shortlist fills with
    // passing candidates instead of post-filtering them away (the
    // same in-probe-vs-post-filter recall gap BASELINE.md's round-13
    // "filtered vector search" section measures on the flat path,
    // compounded here by the fixed L)
    val candCodes = pred match {
      case None => probedCodes
      case Some(p) =>
        val at = index.flat.attrs.getOrElse(
          throw new IllegalArgumentException(
            "filtered adcShortlist needs an attrs sidecar: savePq " +
              "with attrs"))
        probedCodes.join(at.filter(p).select("vec_id"),
          Seq("vec_id"), "left_semi")
    }
    val base = qp
      .join(candCodes,
        col("pcell") === col("cell") && col("vec_id") =!= col("qid"))
    val cand =
      (if (index.residual) base.join(dtab, Seq("qid", "pcell"))
       else base.join(dtab, Seq("qid")))
        .select(col("qid"), col("vec_id").as("nid"),
          SimilarityOps.adcScore.as("adc"))
    (cand, probedBuckets)
  }

  def adcShortlist(index: IvfPqIndex, queries: DataFrame, nprobe: Int,
      shortlistL: Int, topK: Int,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (cand, probedBuckets) =
      adcCandidates(index, queries, nprobe, pred)
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("adc"), col("nid"))
    // the shortlist is ≤ L×|queries| (qid, nid) pairs — materialize
    // it (bounded collect, same discipline as probedBuckets) so the
    // re-rank's raw-vector read is an ID POINT-LOOKUP pushed into the
    // scan, not a probed-bucket vector sweep: with bucket files
    // vec_id-sorted (writeCells), row-group stats skip everything but
    // the looked-up rows — the "+R" fetch of IVFADC+R
    val shortPairs = cand.withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= shortlistL)
      .select(col("qid"), col("nid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val spark = queries.sparkSession
    import spark.implicits._
    val short = broadcast(
      spark.createDataset(shortPairs.toSeq).toDF("qid", "nid"))
    val nids = shortPairs.map(_._2).distinct.toSeq
    // exact re-rank: |q|² + |n|² − 2⟨q,n⟩, all integers — the
    // quantizer bounds the SHORTLIST, never the answer
    val nvecs = index.flat.cells
      .filter(col("pb").isin(probedBuckets.toSeq: _*) &&
        col("vec_id").isin(nids: _*))
      .select(col("vec_id").as("nid"), col("v").as("nv"),
        col("n2").as("nn2"))
    val qvecs = broadcast(queries.select(col("vec_id").as("qid"),
      col("v").as("qv"), col("n2").as("qn2")))
    val rer = short.join(nvecs, Seq("nid")).join(qvecs, Seq("qid"))
      .withColumn("dp", dot("qv", "nv"))
      .withColumn("d2", col("qn2") + col("nn2") - lit(2L) * col("dp"))
    val w2 = Window.partitionBy(col("qid"))
      .orderBy(col("d2"), col("nid"))
    rer.withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("nid"), col("d2"), col("rn"))
  }

  /** Latest committed version without loading any frame (streaming
    * callers' empty-batch probe). */
  def latestVersion(root: String): Long =
    ArtifactLog.latest(root, Kind)._1

  /** Whether the live index carries the PQ layer — one record read,
    * no frames; the ingest stream dispatches append vs appendPq on
    * this so one stream definition serves both index shapes. */
  def hasPqLayer(root: String): Boolean =
    ArtifactLog.latest(root, Kind)._2.dirsOf("B").nonEmpty

  /** Per-cell occupancy — the drift monitor's read. One row per
    * TRAINED cell, `(cell, n_members)`, exact bigints; cells the
    * final assignment left EMPTY appear with 0 (an emptying cell is
    * itself a drift signal, so the left join from the centroid frame
    * is load-bearing, not cosmetic). The cells scan is column-pruned
    * to the `cell` column (counting members never deserializes the
    * vectors — Catalyst prunes `v`/`n2` out of the parquet read,
    * IvfIndexSpec pins it), so the monitor costs a metadata-sized
    * scan plus one map-side-combined count shuffle of (cell, n)
    * pairs — cheap enough to run after every append. */
  def cellStats(index: IvfIndex): DataFrame =
    index.centroids.select(col("cid").as("cell"))
      .join(broadcast(index.cells.groupBy("cell")
          .agg(count(lit(1)).as("n_members"))),
        Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_members"), lit(0L)).as("n_members"))

  /** One-struct drift summary over [[cellStats]]: trained cell count,
    * indexed vectors, empty cells, max/mean cell size and their ratio
    * (the imbalance factor). Appends assign on FROZEN centroids, so a
    * shifting distribution crowds its mass into the few cells nearest
    * the new region: imbalance is the direct monitor for "this
    * index's probe cost is degenerating toward brute force"
    * (BASELINE.md "Round-12 addendum 8" measures the whole arc). */
  final case class DriftStats(cells: Long, vectors: Long,
      emptyCells: Long, maxCell: Long, meanCell: Double) {
    def imbalance: Double =
      if (meanCell == 0.0) 0.0 else maxCell / meanCell
  }

  def driftStats(index: IvfIndex): DriftStats = {
    val r = cellStats(index).agg(
      count(lit(1)).as("cells"),
      sum("n_members").as("vectors"),
      sum(when(col("n_members") === 0L, 1L).otherwise(0L))
        .as("empty_cells"),
      max("n_members").as("max_cell")).head()
    val cells = r.getLong(0)
    val vecs = if (r.isNullAt(1)) 0L else r.getLong(1)
    DriftStats(cells, vecs, r.getLong(2), r.getLong(3),
      if (cells == 0) 0.0 else vecs.toDouble / cells)
  }

  /** The retrain trigger a deployment wires between ingest and
    * [[retrain]]: fire when the biggest cell holds `maxImbalance`×
    * the mean (frozen centroids no longer partition the live
    * distribution — probe cost on the crowded region approaches a
    * corpus scan), or when the corpus has outgrown the trained cell
    * budget by `maxMeanCell` (k was sized k ≈ n/64 at TRAIN time and
    * appends froze it while n grew). Thresholds are policy, not
    * truth — the defaults mark a probe-cost degradation of roughly
    * an order of magnitude. */
  def needsRetrain(stats: DriftStats, maxImbalance: Double = 8.0,
      maxMeanCell: Double = 512.0): Boolean =
    stats.imbalance > maxImbalance || stats.meanCell > maxMeanCell

  /** Fold the accreted shard dirs into one (same content, one `D`
    * line) — run when the shard list outgrows a comfortable manifest,
    * exactly like the catalog's checkpoint records. */
  def compact(spark: SparkSession, root: String,
      store: CommitStore = LinkCommitStore): Long = {
    val (v, r) = ArtifactLog.latest(root, Kind)
    val tombs = readTombs(spark, root, r.dirsOf("T"))
    // tombstones fold PHYSICALLY here: the compacted lists exclude
    // deleted rows and the record drops its T lines — compact is the
    // point where a takedown stops costing a probe-time anti-join
    val cells = dropTombs(readCellDirs(spark, root, r.dirsOf("D")),
      tombs)
    val dirName = UUID.randomUUID().toString
    // re-bucket on write: one file per bucket in the compacted (the
    // long-lived) form, preserving the record's rg layout policy
    writeCells(cells.select(col("vec_id"), col("v"), col("n2"),
        col("cell")),
      r.kvMap("p").toInt, s"$root/data/$dirName/cells",
      r.kvMap.get("rg").map(_.toInt).getOrElse(0))
    // a PQ record's code shards fold alongside the cells shards
    // (through writeCodes, so the compacted layout can never diverge
    // from the appended one)
    val qDir =
      if (r.dirsOf("Q").isEmpty) Nil
      else {
        writeCodes(
          dropTombs(readCellDirs(spark, root, r.dirsOf("Q")), tombs)
            .select(col("vec_id"), col("code"), col("cell")),
          r.kvMap("p").toInt, s"$root/data/$dirName/codes")
        Seq("Q" -> s"$dirName/codes")
      }
    // the attribute sidecar folds like the lists, with tombstoned
    // rows physically excluded — compact is also where a takedown's
    // STALE attr rows (retrain drops T lines but never rewrites the
    // sidecar) finally leave the disk
    val aDir =
      if (r.dirsOf("A").isEmpty) Nil
      else {
        writeAttrs(
          dropTombs(readCellDirs(spark, root, r.dirsOf("A")), tombs)
            .drop("ab"),
          r.kvMap("ap").toInt, s"$root/data/$dirName/attrs")
        Seq("A" -> s"$dirName/attrs")
      }
    ArtifactLog.commit(root, Kind, v,
      Rec(r.kv,
        r.dirs.filterNot(d => Set("D", "Q", "T", "A")(d._1)) :+
        ("D" -> s"$dirName/cells") :++ qDir :++ aDir), store)
  }

  /** Retrain the coarse quantizer on the CURRENT corpus and commit a
    * structure-replacing version — the answer to [[needsRetrain]].
    * Appends assign on frozen centroids (that is what makes them
    * O(increment)); the price is that a drifting distribution crowds
    * into the cells nearest its new region and a growing corpus
    * outruns the trained k. Retrain re-reads the member vectors from
    * the persisted inverted lists (IVF-Flat: the lists ARE the
    * storage — no external corpus needed), re-runs the same
    * integer-exact training as [[save]] with k re-sized to the
    * CURRENT corpus (k ≈ n/64 again, unless pinned via `k`), and
    * commits fresh centroid + cell dirs in one record. History is
    * ordinary [[ArtifactLog]] time travel: the pre-retrain version
    * stays readable until vacuumed.
    *
    * Loaded-index equivalence: the committed index is row-identical
    * to the in-memory `ivfCentroids(currentCorpus, kNew, iters,
    * seeds) → ivfCells` recompute (IvfIndexSpec pins it) — retrain
    * is training with the corpus served by the artifact.
    *
    * Seeding: retrain hash-samples its k seeds from the CURRENT
    * corpus (`ORDER BY xxhash64(vec_id) LIMIT k` — a deterministic,
    * RNG-free uniform sample, executed as a distributed top-k, no
    * global sort). [[save]]'s low-id seeding is oracle-mirrorable
    * and unbiased when ids are arrival-ordered within one regime,
    * but the whole REASON to retrain is that later appends came
    * from a shifted regime — and low-id seeding can never place a
    * centroid inside a newly-arrived cluster, so no iteration count
    * ever splits it; k-means only divides a region a seed lands in.
    * BASELINE.md "Round-12 addendum 8" measures both: low-id retrain
    * leaves the drifted cluster's cell intact, hash-seeded retrain
    * splits it proportionally. `reseed = false` selects the low-id path (the
    * A/B leg; also what a caller wanting bit-compatibility with a
    * fresh [[save]] picks).
    *
    * Concurrency: CAS at the version read on entry, and a lost race
    * PROPAGATES (no rebase) — an interleaved append's vectors are in
    * the new record's lists but not in this retrain's, so rebasing
    * would silently drop them; the caller re-runs against the new
    * version, like a catalog `transact` whose merge re-executes.
    * A replay tag on the head record survives (same preservation rule
    * as untagged [[append]]). */
  def retrain(spark: SparkSession, root: String, k: Option[Int] = None,
      store: CommitStore = LinkCommitStore,
      preCommitHook: Long => Unit = _ => (), iters: Int = 1,
      reseed: Boolean = true): Long = Scope {
    val (v, head) = ArtifactLog.latest(root, Kind)
    // the corpus feeds count + train + assignment — cache for the
    // call's scope, like save(). Tombstoned vectors are excluded
    // (retraining ON deleted vectors would resurrect their influence
    // as centroid mass); the fresh record carries no T lines — the
    // retrain IS the physical fold for its generation.
    val corpus = Scope.cache(dropTombs(
        readCellDirs(spark, root, head.dirsOf("D")),
        readTombs(spark, root, head.dirsOf("T")))
      .select(col("vec_id"), col("v"), col("n2")))
    // the n/64 target-cell rule, CAPPED at the k ≤ 65 536 budget
    // ivfCentroids' collect/re-broadcast cycle and the broadcast-
    // hinted centroid frame are built on (≈34 MB at 64 dims; an
    // uncapped 10⁹-vector retrain would try to collect ~1.6e7
    // centroid rows to the driver) — past the cap, cells grow past
    // 64 vectors and the probe pays in cell size, not memory, the
    // same trade defaultBuckets makes on dir count
    val kNew = k.getOrElse(
      math.min(65536L, math.max(32L, corpus.count() / 64L)).toInt)
    val seeds =
      if (reseed) Some(corpus.orderBy(xxhash64(col("vec_id")))
        .limit(kNew).select("vec_id", "v", "n2"))
      else None
    val cents =
      Scope.cache(SimilarityOps.ivfCentroids(corpus, kNew, iters, seeds))
    require(!cents.isEmpty,
      "retrain found no trainable seeds (the index is empty, or " +
        s"reseed=false with no vec_id < $kNew in the corpus)")
    val cells = SimilarityOps.ivfCells(corpus, cents)
    val dirName = UUID.randomUUID().toString
    val buckets = defaultBuckets(kNew)
    cents.write.parquet(s"$root/data/$dirName/centroids")
    writeCells(cells, buckets, s"$root/data/$dirName/cells",
      head.kvMap.get("rg").map(_.toInt).getOrElse(0))
    // a PQ head retrains its codebooks from the same corpus (and
    // the same hash-sampled seeds — codebooks freeze exactly like
    // the coarse centroids, so they drift exactly like them) and
    // re-encodes; dropping the layer here would silently degrade
    // the index to flat
    val pqDirs =
      if (head.dirsOf("B").isEmpty) Nil
      else {
        val m = head.kvMap("m").toInt
        val subDim = head.kvMap("sd").toInt
        val ksub = head.kvMap("ks").toInt
        val res = head.kvMap.get("res").contains("1")
        // a residual head retrains its books on residuals to the
        // NEW centroids (books quantize within-cell variation, so
        // they must follow the cells they are relative to)
        val encBase =
          if (res) SimilarityOps.residuals(cells, cents) else corpus
        // the books need their OWN ksub-sized hash sample: a
        // subset of the kNew coarse seeds silently shrinks the
        // codebooks whenever kNew < ksub (k is n/64 but ksub is
        // a fixed quantization budget — at small corpora kNew
        // can be far below it). Same ordering, so when
        // kNew ≥ ksub this is exactly the old first-ksub subset.
        val bookSeeds =
          if (seeds.isDefined)
            Some(encBase.orderBy(xxhash64(col("vec_id")))
              .limit(ksub).select("vec_id", "v", "n2"))
          else None
        val books = Scope.cache(SimilarityOps.pqCodebooks(
          encBase, m, subDim, ksub, iters, bookSeeds))
        books.write.parquet(s"$root/data/$dirName/books")
        writeCodes(
          SimilarityOps.pqEncode(
            if (res) encBase else cells, books, m, subDim,
            carry = Seq("cell")),
          buckets, s"$root/data/$dirName/codes")
        Seq("B" -> s"$dirName/books", "Q" -> s"$dirName/codes")
      }
    // the attribute sidecar survives retrain UNTOUCHED — it is
    // bucketed by vec_id, not cell, precisely so the coarse
    // structure can be replaced without an O(corpus) sidecar
    // rewrite. Tombstoned ids' attr rows go stale here (the
    // fresh record has no T lines) — harmless supersets for the
    // filtered probe (deleted vectors are not in the new lists,
    // so the semi-join never surfaces them) and physically
    // folded at the next compact.
    val rec = Rec(
      Seq("k" -> kNew.toString, "p" -> buckets.toString) ++
        head.kvMap.filter(kv =>
          Set("m", "sd", "ks", "rg", "res", "ap")(kv._1)) ++
        head.kvMap.get("tag").map("tag" -> _),
      Seq("C" -> s"$dirName/centroids") ++ pqDirs.take(1) ++
        Seq("D" -> s"$dirName/cells") ++ pqDirs.drop(1) ++
        head.dirs.filter(_._1 == "A"))
    preCommitHook(v) // test seam: races injected between stage + CAS
    ArtifactLog.commit(root, Kind, v, rec, store)
  }

  /** Candidate shortlist for `queries` (quantized frame) against a
    * loaded index: probe the `nprobe` nearest cells per query vector,
    * score only those cells' members, keep the `topK` best by exact
    * cosine. The cells scan is PRUNED to the probed buckets — the
    * bucket set is collected as a ≤ `index.buckets`-element distinct
    * (bounded by P, never by |queries|) and pushed as a partition
    * filter, so a point-lookup ingest reads O(touched buckets), not
    * O(corpus) (IvfIndexSpec pins the partition-filter shape;
    * BASELINE.md "Round-12 addendum 3b" measures it).
    *
    * Cache scope (also [[adcShortlist]]): the probe frame is cached in
    * the caller's [[graft.Scope]] region — a long-lived caller runs
    * each call and the action on its result inside `Scope { }`, or the
    * cached probe frames accumulate in the thread's root region until
    * `Scope.release()` (Bench/Verify release between queries, through
    * Harness.release). */
  /** `pred` turns the probe into FILTERED vector search (the
    * metadata-constrained top-k every production vector store
    * serves): the predicate runs against the attribute sidecar —
    * a scan of (vec_id + predicate columns) with the predicate
    * pushed to parquet, orders of magnitude under the vector
    * bytes — and the allowed ids semi-join the probed cells'
    * members BELOW the distance math, so a failing candidate
    * costs a hash-probe, never a dot product. Fixed nprobe under
    * a RARE predicate starves the shortlist (the filtered-ANN
    * recall cliff); the candidate frame is exactly where a
    * deployment counts survivors per query and escalates — the
    * `s_ann_filtered_adaptive` query implements that policy
    * in-plan, and BASELINE.md "filtered vector search" measures the
    * selectivity × corpus grid. */
  def shortlist(index: IvfIndex, queries: DataFrame, nprobe: Int,
      topK: Int,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val qp = Scope.cache(
      SimilarityOps.probeCells(queries, index.centroids, nprobe)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("n2").as("qn2"), col("cell").as("pcell")))
    val probedBuckets = qp
      .select(pmod(col("pcell"), lit(index.buckets.toLong)).cast("int")
        .as("pb"))
      .distinct().collect().map(_.getInt(0)) // ≤ P values by pigeonhole
    val probedCells =
      index.cells.filter(col("pb").isin(probedBuckets.toSeq: _*))
    val candCells = pred match {
      case None => probedCells
      case Some(p) =>
        val at = index.attrs.getOrElse(throw new IllegalArgumentException(
          "filtered shortlist needs an attrs sidecar: save/append " +
            "with attrs"))
        probedCells.join(at.filter(p).select("vec_id"),
          Seq("vec_id"), "left_semi")
    }
    val cand = qp.join(candCells,
      col("pcell") === col("cell") && col("vec_id") =!= col("qid"))
    val pairs = cand
      .withColumn("dp", dot("qv", "v"))
      .withColumn("cosine",
        graft.core.asDouble(col("dp")) /
          (sqrt(graft.core.asDouble(col("qn2"))) *
            sqrt(graft.core.asDouble(col("n2")))))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("cosine"), col("vec_id"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("vec_id").as("nid"), col("cosine"),
        col("rn"))
  }

  /** Bucket-pruned attribute hydration for a RESULT id set (the
    * read that turns a top-k of vec_ids into rows a consumer can
    * use): the ids' ≤ attrBuckets distinct `ab` buckets are
    * collected (bounded by the bucket count — the ids are a top-k,
    * itself bounded) and pushed as a partition filter, so fetching
    * k×|queries| winners' metadata reads O(touched buckets), never
    * the sidecar. Tombstones are already filtered at the load seam;
    * stale post-retrain rows for DELETED ids can linger in the
    * sidecar files but cannot surface here — the ids come from
    * probes over the tombstone-filtered lists. */
  def fetchAttrs(index: IvfIndex, ids: DataFrame): DataFrame = {
    val at = index.attrs.getOrElse(throw new IllegalArgumentException(
      "fetchAttrs needs an attrs sidecar: save/append with attrs"))
    val idsD = ids.select("vec_id").distinct()
    val abs = idsD
      .select(pmod(col("vec_id"), lit(index.attrBuckets.toLong))
        .cast("int").as("ab"))
      .distinct().collect().map(_.getInt(0)) // ≤ attrBuckets by pigeonhole
    at.filter(col("ab").isin(abs.toSeq: _*))
      .join(idsD, Seq("vec_id"))
  }

  /** Prune history: keep the newest `keep` records, delete older
    * ones, then delete data dirs no kept record references (mtime
    * older than `graceMs`, protecting an in-flight appender's staged
    * shard) and sweep crash-orphaned dot-files in `_commits`. */
  def vacuum(root: String, keep: Int = 2,
      graceMs: Long = 15 * 60 * 1000L): Unit =
    ArtifactLog.vacuum(root, Kind, keep, graceMs)
}
