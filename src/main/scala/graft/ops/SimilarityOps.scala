package graft.ops

import graft._
import graft.core._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the embedding column.
  *
  * Determinism note: float dot products are order-dependent, so we
  * quantize each component to an exact integer (round(x*1e6)) and do
  * the dot product / norms in integer arithmetic — bit-identical in
  * any engine — then a fixed sequence of IEEE double ops
  * (sqrt, mul, div) for the cosine. (x*1e6 can never land exactly on
  * .5: (2k+1)/2e6 has 5^6 in the denominator, unrepresentable in
  * binary floating point, so ROUND ties never occur.)
  *
  * Scale path: brute-force top-k is O(Q·N); the LSH-bucketed variant
  * probes only same-bucket candidates (sign-bit hyperplane hash), an
  * equi-join that hash-partitions cleanly on a 1000-executor cluster.
  */
object SimilarityOps {

  /** embedding array<float> → array<long> quantized micro-units.
    * floor(x*1e6 + 0.5) not round(): round ties (the double product CAN
    * land exactly on .5) resolve HALF_UP in Spark but ties-to-even in
    * DuckDB; floor(+0.5) is the same IEEE op sequence in both. */
  private def qvec = expr(
    "transform(embedding, x -> CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT))")

  /** Codegen'd single-loop integer dot product ([[graft.functions
    * .DotLong]]) — the zip_with + aggregate formulation allocates an
    * intermediate array per evaluation; 4× measured query-level
    * throughput (BASELINE.md "Round-8 dot-product probe"), compounding
    * on the n×k assignment
    * paths. */
  private def dot(a: String, b: String) =
    graft.functions.GraftFunctions.dot_long(col(a), col(b))

  val bruteTopK = QueryDef(
    "s_cosine_topk", "LLM-pipeline similarity: brute-force cosine top-k",
    "exact top-5 cosine neighbors for query vectors (quantized ints)",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), qvec.as("v"))
        .withColumn("n2", dot("v", "v"))
      val queries = broadcast(
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("n2").as("qn2")))
      val pairs = queries.join(emb, col("vec_id") =!= col("qid"))
        .withColumn("dp", dot("qv", "v"))
        .withColumn("cosine",
          asDouble(col("dp")) /
            (sqrt(asDouble(col("qn2"))) * sqrt(asDouble(col("n2")))))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), col("vec_id"))
      pairs
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id").as("nid"), col("cosine"), col("rn"))
        .orderBy("qid", "rn")
    },
    Some("""WITH u AS (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      nrm AS (
        SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM u GROUP BY vec_id),
      dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(SUM(a.x*b.x) AS BIGINT) AS dp
        FROM u a JOIN u b ON a.i = b.i
        WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
        GROUP BY a.vec_id, b.vec_id),
      cos AS (
        SELECT qid, nid,
          CAST(dp AS DOUBLE) /
            (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE))) AS cosine
        FROM dots
        JOIN nrm qa ON qa.vec_id = qid
        JOIN nrm qb ON qb.vec_id = nid)
      SELECT qid, nid, cosine, rn FROM (
        SELECT qid, nid, cosine,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, nid) AS rn
        FROM cos) WHERE rn <= 5
      ORDER BY qid, rn"""))

  /** LSH-bucketed ANN, the high-precision scale path: bucket = sign
    * bits of the first 16 components (16 fixed axis-aligned
    * hyperplanes → 65 536 buckets, so bucket population scales as
    * n/2^16 — at 10^9 rows a bucket holds ~15 k vectors, never a
    * mini cross-join), probed with flip-1 multiprobe (the query's own
    * bucket plus its 16 single-bit-flip neighbors, the standard
    * recall recovery for bit-sampling LSH). Probing is an equi-join
    * of 17 probe rows per query against the bucketed table — hash
    * -partitions cleanly on a 1000-executor cluster. The oracle
    * mirrors bucket + probes exactly so results stay checkable.
    */
  val lshAnn = QueryDef(
    "s_cosine_ann_lsh", "LLM-pipeline similarity: LSH-bucketed ANN",
    "16-bit sign LSH + flip-1 multiprobe ANN top-3 (cosine scale path)",
    (s, dir) => {
      // bucket bits scale with log(n): target population n/2^bits of
      // a few dozen vectors. 8 bits at the 500-row test corpus (≈2 per
      // bucket, candidates actually exist — 16 bits here left 2 result
      // rows, a vacuous gate); a 10^9-row deployment uses 24-25 bits,
      // same plan.
      val bucketExpr = expr(
        """aggregate(sequence(1, 8),
             0, (acc, i) -> acc * 2 +
               CASE WHEN element_at(embedding, i) >= 0.0 THEN 1 ELSE 0 END)""")
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), qvec.as("v"), bucketExpr.as("bucket"))
        .withColumn("n2", dot("v", "v"))
      val probes = emb.filter(col("vec_id") < 25)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("n2").as("qn2"),
          explode(expr(
            """array_union(array(bucket),
                 transform(sequence(0, 7),
                   j -> CAST(bucket ^ shiftleft(1, j) AS INT)))"""))
            .as("pbucket"))
      val pairs = probes.join(emb,
          col("pbucket") === col("bucket") && col("vec_id") =!= col("qid"))
        .withColumn("dp", dot("qv", "v"))
        .withColumn("cosine",
          asDouble(col("dp")) /
            (sqrt(asDouble(col("qn2"))) * sqrt(asDouble(col("n2")))))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), col("vec_id"))
      pairs
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id").as("nid"), col("cosine"), col("rn"))
        .orderBy("qid", "rn")
    },
    Some("""WITH b AS (
        SELECT vec_id, embedding,
          CAST(list_sum(list_transform(range(1, 9),
            j -> CASE WHEN embedding[j] >= 0.0
                 THEN 1 << (8 - CAST(j AS INTEGER)) ELSE 0 END))
            AS INTEGER) AS bucket
        FROM embeddings),
      probes AS (
        SELECT vec_id AS qid,
          unnest(list_prepend(bucket,
            list_transform(range(0, 8),
              j -> xor(bucket, 1 << CAST(j AS INTEGER))))) AS pbucket
        FROM b WHERE vec_id < 25),
      u AS (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      nrm AS (
        SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM u GROUP BY vec_id),
      cand AS (
        SELECT p.qid, qb.vec_id AS nid
        FROM probes p JOIN b qb
          ON p.pbucket = qb.bucket AND qb.vec_id <> p.qid),
      dots AS (
        SELECT c.qid, c.nid, CAST(SUM(a.x*b.x) AS BIGINT) AS dp
        FROM cand c
        JOIN u a ON a.vec_id = c.qid
        JOIN u b ON b.vec_id = c.nid AND a.i = b.i
        GROUP BY c.qid, c.nid),
      cos AS (
        SELECT qid, nid,
          CAST(dp AS DOUBLE) /
            (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE))) AS cosine
        FROM dots
        JOIN nrm qa ON qa.vec_id = qid
        JOIN nrm qb ON qb.vec_id = nid)
      SELECT qid, nid, cosine, rn FROM (
        SELECT qid, nid, cosine,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, nid) AS rn
        FROM cos) WHERE rn <= 3
      ORDER BY qid, rn"""))

  /** IVF (inverted-file) ANN with trained centroids — the
    * coarse-quantizer scale path (FAISS IVF-Flat shape): k=32 seed
    * centroids (first k vectors), one Lloyd iteration entirely in
    * exact integer arithmetic (assign by max cosine, update by
    * floor-averaged components), final cell assignment on the trained
    * centroids, then queries probe their nprobe=4 nearest cells and
    * rank candidates by exact quantized cosine.
    *
    * 100 TB shape: the centroid table is tiny and broadcast (even
    * k=65 536 × 64 dims × 8 B = 32 MB), assignment is a map-side
    * broadcast argmin — no shuffle — and the candidate join is an
    * equi-join on cell_id; k grows with n (k ≈ n/target_cell_size) so
    * cells stay bounded. Training at scale runs on a sample with more
    * iterations; one exact-arithmetic iteration here keeps the DuckDB
    * oracle able to mirror the whole pipeline bit-for-bit.
    */
  /** Quantized embeddings frame: (vec_id, v: array<bigint>, n2). */
  def quantized(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    // single-row-group scan: spread before the per-row vector math
    quantizeEmbeddings(par(t(s, dir, "embeddings")))

  /** [[quantized]] for callers that already hold a
    * (vec_id, embedding: array<float>) frame — streaming
    * micro-batches ([[graft.streaming.EmbeddingIngestStream]]) and
    * tests. Same integer quantization, so downstream arithmetic stays
    * oracle-exact. */
  def quantizeEmbeddings(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(col("vec_id"), qvec.as("v"))
      .withColumn("n2", dot("v", "v"))

  /** Rank every (vector, centroid) pair by cosine per vector; keep
    * ranks ≤ nprobe. Centroid frames are broadcast — map-side argmin,
    * no shuffle of the big side. The n×k scored rows are projected to
    * NARROW (vec_id, cid, ccos) tuples inside the join's output
    * projection, so the window sort never shuffles the vector arrays
    * (at k ∝ n the wide form is quadratic bytes — it OOM'd the 100×
    * scale point before this narrowing); vectors re-attach afterward
    * via one linear equi-join on vec_id. */
  private def nearestCells(vecs: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, nprobe: Int)
      : org.apache.spark.sql.DataFrame = {
    val scored = vecs.join(cents)
      .withColumn("cdp", dot("v", "cv"))
      .select(col("vec_id"), col("cid"),
        (asDouble(col("cdp")) /
          (sqrt(asDouble(col("n2"))) * sqrt(asDouble(col("cn2")))))
          .as("ccos"))
    // nprobe=1 (the assignment path every save/append/retrain runs)
    // is an ARGMAX, not a rank: max_by with the (ccos, −cid) struct
    // ordering gets map-side partial aggregation, so only the n
    // per-vector states shuffle — the window form shuffled and
    // sorted all n×k scored rows (625M at the 100× probe point, vs
    // 200k states). Identical tie semantics to the rank form
    // (ccos DESC, cid ASC) and identical values, so every
    // oracle-gated plan through here stays hash-equal.
    val best =
      if (nprobe == 1)
        scored.groupBy(col("vec_id"))
          .agg(max_by(col("cid"),
            struct(col("ccos"), (-col("cid")).as("tb"))).as("cell"))
      else {
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(desc("ccos"), col("cid"))
        scored.withColumn("crn", row_number().over(w))
          .filter(col("crn") <= nprobe)
          .select(col("vec_id"), col("cid").as("cell"))
      }
    vecs.join(best, Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("n2"), col("cell"))
  }

  /** Trained IVF centroids: k seed centroids (first k vectors), then
    * `iters` Lloyd iterations in exact integer arithmetic (assign by
    * max cosine, update by floor-averaged components). Every
    * oracle-gated query trains with the default single iteration (the
    * DuckDB oracle replays exactly one); more iterations are the
    * RETRAIN knob — re-partitioning a drifted distribution usually
    * needs the centroids to walk, not hop once
    * ([[IvfIndexStore.retrain]] threads it; BASELINE.md "Round-12
    * addendum 8" measures the difference). Each iteration's k-row
    * centroid frame is collected and re-broadcast (k ≤ 65 536 rows —
    * driver-trivial),
    * so the emb-wide assignment subplan does not STACK across
    * iterations: iteration i scans emb against a literal centroid
    * table, the same shape every k-means-on-Spark implementation
    * uses. `seeds` overrides the default low-id seed frame (same
    * (vec_id, v, n2) shape): the default is oracle-mirrorable and
    * unbiased when ids are arrival-ordered within ONE regime, but on
    * a multi-regime corpus (base + drifted appends) arrival order IS
    * the bias — low-id seeding can never place a centroid inside a
    * newly-arrived cluster, so no iteration count can split it
    * (BASELINE.md "Round-12 addendum 8" measures exactly that;
    * [[IvfIndexStore.retrain]] passes hash-sampled seeds instead).
    * Returns (cid, cv: array<bigint>, cn2), broadcast-hinted. */
  def ivfCentroids(emb: org.apache.spark.sql.DataFrame, k: Int,
      iters: Int = 1,
      seeds: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = emb.sparkSession
    var cents = broadcast(seeds.getOrElse(emb.filter(col("vec_id") < k))
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("n2").as("cn2")))
    (0 until iters).foreach { i =>
      val assigned = nearestCells(emb, cents, 1)
      val updated = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
        .withColumn("cx", expr(
          "CAST(FLOOR(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE)) AS BIGINT)"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cx)))," +
          " s -> s.cx)").as("cv"))
        .select(col("cell").as("cid"), col("cv"))
        .withColumn("cn2", dot("cv", "cv"))
      cents =
        if (i == iters - 1) broadcast(updated)
        else {
          // materialize between iterations so the next assignment
          // joins a k-row literal, not a stacked re-derivation
          import scala.jdk.CollectionConverters._
          broadcast(spark.createDataFrame(
            updated.collect().toSeq.asJava, updated.schema))
        }
    }
    cents
  }

  /** IVF cell assignment on trained centroids:
    * (vec_id, v, n2, cell). */
  def ivfCells(emb: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = nearestCells(emb, cents, 1)

  /** Ranked cell probes (vec_id, v, n2, cell) with one row per
    * (vector, probed cell) — [[nearestCells]] for callers outside
    * this object ([[IvfIndexStore.shortlist]] intercepts the probe
    * frame to collect the probed BUCKETS before the candidate join,
    * which [[ivfCandidates]]'s fused shape can't express). */
  private[ops] def probeCells(vecs: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, nprobe: Int)
      : org.apache.spark.sql.DataFrame = nearestCells(vecs, cents, nprobe)

  // ---- product-quantization building blocks (FAISS PQ shape, ------
  // ---- Jégou et al. 2011) — reused by the in-memory s_cosine_ann_pq
  // ---- recipe's persisted twin, IvfIndexStore's IVF-PQ layer ------

  /** (vec_id, sub, sv: array<bigint>, svn2[, carry...]): the vector
    * split into `m` contiguous `subDim`-dim subspaces. Extra columns
    * named in `carry` ride along (e.g. the coarse `cell` so the
    * encode path never re-joins the assignment — at corpus scale
    * that join is an n×n shuffle the carry avoids). */
  def pqSubvectors(emb: org.apache.spark.sql.DataFrame, m: Int,
      subDim: Int, carry: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id") +: carry.map(col) :+ explode(expr(
        s"""transform(sequence(0, ${m - 1}),
              s -> struct(CAST(s AS INT) AS sub,
                          slice(v, s*$subDim + 1, $subDim) AS sv))"""))
        .as("e"): _*)
      .select(col("vec_id") +: carry.map(col) :+
        col("e.sub").as("sub") :+ col("e.sv").as("sv"): _*)
      .withColumn("svn2", dot("sv", "sv"))

  /** Argmin code per (vector, subspace) against a broadcast codebook
    * frame (sub, cid, cv, cvn2): exact integer squared-L2 via the
    * identity Σ(x−c)² = |x|² + |c|² − 2⟨x,c⟩ — one codegen'd dot per
    * (vector, subspace, centroid), never a per-component explode.
    * Ties break on cid ascending (dense renumbering is monotone in
    * the training cid, so the tie order is seed-order in both the
    * raw and the densified book — the DuckDB oracle mirrors it). */
  private def pqArgmin(subv: org.apache.spark.sql.DataFrame,
      books: org.apache.spark.sql.DataFrame, carry: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    val d = subv.join(books, Seq("sub"))
      .select(col("vec_id") +: carry.map(col) :+ col("sub") :+
        col("cid") :+
        (col("svn2") + col("cvn2") -
          lit(2L) * dot("sv", "cv")).as("d2"): _*)
    // argmin via min_by (map-side combine — only n×m states shuffle,
    // never the n×m×ksub scored rows; same rationale and identical
    // tie semantics as nearestCells' nprobe=1 path)
    d.groupBy((col("vec_id") +: carry.map(col) :+ col("sub")): _*)
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))
  }

  /** Trained PQ codebooks with DENSE per-subspace ids: per subspace,
    * `ksub` low-id seed subvectors (or hash-sampled `seeds` — same
    * retrain rationale as [[ivfCentroids]]), `iters` Lloyd
    * iterations in exact integer arithmetic (assign by min squared
    * L2, update by floor-averaged components), then cids renumbered
    * 0..k'−1 per subspace in training-cid order (empty cells drop
    * out of the Lloyd update, so the raw ids are sparse; dense ids
    * make the persisted code an ARRAY INDEX — ADC is then a pure
    * table lookup, no join on the code path). Returns
    * (sub, cid, cv, cvn2), broadcast-hinted — m × ksub rows, tiny at
    * any corpus scale (m=16 × ksub=256 × 48 dims × 8 B ≈ 1.6 MB). */
  def pqCodebooks(emb: org.apache.spark.sql.DataFrame, m: Int,
      subDim: Int, ksub: Int, iters: Int = 1,
      seeds: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = emb.sparkSession
    val subv = pqSubvectors(emb, m, subDim)
    var books = broadcast(
      pqSubvectors(seeds.getOrElse(emb.filter(col("vec_id") < ksub)),
        m, subDim)
        .select(col("sub"), col("vec_id").as("cid"),
          col("sv").as("cv"), col("svn2").as("cvn2")))
    (0 until iters).foreach { i =>
      val assigned = pqArgmin(subv, books)
      // Lloyd update: the one place components must explode — the
      // per-position floor-mean; rebuilt into centroid arrays
      val updated = subv.join(assigned, Seq("vec_id", "sub"))
        .select(col("sub"), col("cid").as("cell"),
          posexplode(col("sv")).as(Seq("j", "x")))
        .groupBy(col("sub"), col("cell"), col("j"))
        .agg(expr("CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / " +
          "CAST(COUNT(*) AS DOUBLE)) AS BIGINT)").as("cx"))
        .groupBy(col("sub"), col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(j, cx)))," +
          " s -> s.cx)").as("cv"))
        .select(col("sub"), col("cell").as("cid"), col("cv"))
        .withColumn("cvn2", dot("cv", "cv"))
      books =
        if (i == iters - 1) broadcast(updated)
        else {
          // materialize between iterations so the next assignment
          // joins an m×ksub-row literal, not a stacked re-derivation
          // (same discipline as ivfCentroids)
          import scala.jdk.CollectionConverters._
          broadcast(spark.createDataFrame(
            updated.collect().toSeq.asJava, updated.schema))
        }
    }
    // densify: monotone renumber per subspace (row_number over an
    // m×ksub broadcast-sized frame — driver-trivial at any scale)
    val wD = Window.partitionBy(col("sub")).orderBy(col("cid"))
    broadcast(books
      .withColumn("dcid", (row_number().over(wD) - 1).cast("long"))
      .select(col("sub"), col("dcid").as("cid"), col("cv"), col("cvn2")))
  }

  /** Encode each vector to its packed PQ code — (vec_id[, carry...],
    * code: array<int>) with code(s) = the dense cid of the nearest
    * codebook entry in subspace s. The m-entry int array is the 64×
    * compression that makes PQ the billion-vector standard; with
    * dense book ids it doubles as the ADC lookup index. */
  def pqEncode(emb: org.apache.spark.sql.DataFrame,
      books: org.apache.spark.sql.DataFrame, m: Int, subDim: Int,
      carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    pqArgmin(pqSubvectors(emb, m, subDim, carry), books, carry)
      .groupBy((col("vec_id") +: carry.map(col)): _*)
      .agg(expr("transform(array_sort(collect_list(struct(sub, cid)))," +
        " s -> CAST(s.cid AS INT))").as("code"))

  /** Residual frame for residual PQ (Jégou et al.'s IVFADC proper,
    * FAISS `by_residual=true`): each assigned vector minus its coarse
    * centroid — (vec_id, v = x − c(cell), n2 = ‖v‖², cell[,
    * carry...]). Exact bigint throughout (quantized vectors and
    * floor-averaged centroids are both bigint arrays), so the
    * residual path stays oracle-mirrorable. Input must carry `cell`
    * (an [[ivfCells]]/[[probeCells]]-shaped frame); the centroid
    * frame is broadcast — the join adds no shuffle. */
  def residuals(cells: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, carry: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame =
    cells.join(
        org.apache.spark.sql.functions.broadcast(
          cents.select(col("cid").as("cell"), col("cv"))),
        Seq("cell"))
      .select(col("vec_id") +: col("cell") +: carry.map(col) :+
        expr("zip_with(v, cv, (a, b) -> a - b)").as("v"): _*)
      .withColumn("n2", dot("v", "v"))

  /** Per-query ADC distance tables — (qid[, carry...],
    * dt: array<array<bigint>>) with dt(s)(c) = exact integer
    * ‖q_s − book(s)(c)‖²: the classic IVFADC query-side lookup table
    * (m × ksub entries per query, built once, broadcast). Scoring a
    * candidate is then Σ_s dt(s)(code(s)) — a single codegen'd
    * zip_with/aggregate over the packed code, no join and no shuffle
    * on the code-scan path. `carry` keys the tables per (query,
    * extra) — the residual path needs one table per (query, probed
    * cell), since the query's residual differs per cell. */
  def pqDistTables(queries: org.apache.spark.sql.DataFrame,
      books: org.apache.spark.sql.DataFrame, m: Int, subDim: Int,
      carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val d = pqSubvectors(queries, m, subDim, carry).join(books, Seq("sub"))
      .select(col("vec_id").as("qid") +: carry.map(col) :+ col("sub") :+
        col("cid") :+
        (col("svn2") + col("cvn2") -
          lit(2L) * dot("sv", "cv")).as("d2"): _*)
    d.groupBy(col("qid") +: carry.map(col) :+ col("sub"): _*)
      .agg(expr("transform(array_sort(collect_list(struct(cid, d2)))," +
        " s -> s.d2)").as("row"))
      .groupBy(col("qid") +: carry.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(sub, row)))," +
        " s -> s.row)").as("dt"))
  }

  /** The ADC score column over a packed `code` and a per-query `dt`
    * table: Σ_s dt(s)(code(s)), all bigint. */
  def adcScore: org.apache.spark.sql.Column = expr(
    """aggregate(zip_with(code, dt, (c, a) -> element_at(a, c + 1)),
         CAST(0 AS BIGINT), (acc, x) -> acc + x)""")

  /** IVF candidate pairs for the query set: each query probes its
    * `nprobe` nearest cells; candidates are an equi-join on cell. */
  def ivfCandidates(queries: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, nprobe: Int)
      : org.apache.spark.sql.DataFrame = {
    val qprobe = nearestCells(queries, cents, nprobe)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("pcell"))
    qprobe.join(cells,
      col("pcell") === col("cell") && col("vec_id") =!= col("qid"))
  }

  val ivfAnn = QueryDef(
    "s_cosine_ann_ivf", "LLM-pipeline similarity: IVF trained-centroid ANN",
    "k=32 IVF, 1 integer-exact Lloyd iteration, nprobe=4, top-3 cosine",
    (s, dir) => {
      val emb = quantized(s, dir)
      // the trained-centroid frame is consumed twice (cell assignment
      // + query probing); cache the 32 rows so the Lloyd-iteration
      // subplan — an emb-wide explode + two aggregations — runs once.
      // At production scale centroid training is a separate
      // materialized artifact for the same reason.
      val cents1 = ivfCentroids(emb, 32).cache()
      val cells = ivfCells(emb, cents1)
      val pairs = ivfCandidates(emb.filter(col("vec_id") < 10),
          cells, cents1, nprobe = 4)
        .withColumn("dp", dot("qv", "v"))
        .withColumn("cosine",
          asDouble(col("dp")) /
            (sqrt(asDouble(col("qn2"))) * sqrt(asDouble(col("n2")))))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), col("vec_id"))
      pairs
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id").as("nid"), col("cosine"), col("rn"))
        .orderBy("qid", "rn")
    },
    Some("""WITH u AS (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      nrm AS (
        SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM u GROUP BY vec_id),
      c0 AS (SELECT vec_id AS cid, i, x FROM u WHERE vec_id < 32),
      c0n AS (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c0 GROUP BY cid),
      a0dot AS (
        SELECT u.vec_id, c0.cid, CAST(SUM(u.x * c0.x) AS BIGINT) AS dp
        FROM u JOIN c0 ON u.i = c0.i
        GROUP BY u.vec_id, c0.cid),
      a0 AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a0dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c0n cn ON cn.cid = a.cid)
        WHERE rn = 1),
      c1 AS (
        SELECT a0.cell AS cid, u.i,
          CAST(FLOOR(CAST(SUM(u.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
        FROM u JOIN a0 ON u.vec_id = a0.vec_id
        GROUP BY a0.cell, u.i),
      c1n AS (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c1 GROUP BY cid),
      a1dot AS (
        SELECT u.vec_id, c1.cid, CAST(SUM(u.x * c1.x) AS BIGINT) AS dp
        FROM u JOIN c1 ON u.i = c1.i
        GROUP BY u.vec_id, c1.cid),
      cells AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a1dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c1n cn ON cn.cid = a.cid)
        WHERE rn = 1),
      qprobe AS (
        SELECT vec_id AS qid, cid AS pcell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a1dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c1n cn ON cn.cid = a.cid
          WHERE a.vec_id < 10)
        WHERE rn <= 4),
      cand AS (
        SELECT q.qid, c.vec_id AS nid
        FROM qprobe q JOIN cells c
          ON q.pcell = c.cell AND c.vec_id <> q.qid),
      dots AS (
        SELECT c.qid, c.nid, CAST(SUM(a.x*b.x) AS BIGINT) AS dp
        FROM cand c
        JOIN u a ON a.vec_id = c.qid
        JOIN u b ON b.vec_id = c.nid AND a.i = b.i
        GROUP BY c.qid, c.nid),
      cos AS (
        SELECT qid, nid,
          CAST(dp AS DOUBLE) /
            (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE))) AS cosine
        FROM dots
        JOIN nrm qa ON qa.vec_id = qid
        JOIN nrm qb ON qb.vec_id = nid)
      SELECT qid, nid, cosine, rn FROM (
        SELECT qid, nid, cosine,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, nid) AS rn
        FROM cos) WHERE rn <= 3
      ORDER BY qid, rn"""))

  /** Metadata-FILTERED ANN — the "filtered vector search" problem
    * every production vector store has to answer (a training-data
    * deployment never queries the raw corpus: it wants "nearest
    * neighbors among docs with lang=X / quality>t / license
    * allowed"). The design point is WHERE the predicate runs: here
    * the attribute joins onto the inverted lists and filters
    * candidates BELOW the distance math — a candidate failing the
    * predicate costs one attribute-column comparison, never a
    * 64-component dot product — and above the probe structure, so
    * cell assignment and query probing are unchanged (the filter
    * cannot starve the probe of cells, only of candidates). At
    * corpus scale the attribute join is the argument for storing
    * attributes WITH the lists ([[IvfIndexStore]] persists exactly
    * that via `attrs`; BASELINE.md "filtered vector search" measures the
    * read sides); in this self-contained plan it is a co-partitioned
    * equi-join on vec_id. Selectivity here is ~0.5 (label % 2 = 0),
    * where fixed nprobe=4 keeps every query's filtered candidate
    * set comfortably above k — the rare-predicate regime where that
    * breaks is [[filteredAdaptive]]'s subject. The oracle is the
    * [[ivfAnn]] SQL with the predicate spliced into its candidate
    * CTE by anchored edit — identical training/probe arithmetic by
    * construction, so a filter that leaked above the window or
    * dropped a passing candidate hash-fails. */
  val filteredIvf = QueryDef(
    "s_ann_filtered_ivf",
    "LLM-pipeline similarity: metadata-filtered IVF ANN",
    "trained IVF; label%2=0 candidates filtered below the distance math; top-3",
    (s, dir) => {
      val emb = quantized(s, dir)
      val attrs = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val cents1 = ivfCentroids(emb, 32).cache()
      val cells = ivfCells(emb, cents1)
      val fcells = cells.join(attrs, Seq("vec_id"))
        .filter(col("label") % 2 === 0)
        .drop("label")
      val pairs = ivfCandidates(emb.filter(col("vec_id") < 10),
          fcells, cents1, nprobe = 4)
        .withColumn("dp", dot("qv", "v"))
        .withColumn("cosine",
          asDouble(col("dp")) /
            (sqrt(asDouble(col("qn2"))) * sqrt(asDouble(col("n2")))))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), col("vec_id"))
      pairs
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id").as("nid"), col("cosine"),
          col("rn"))
        .orderBy("qid", "rn")
    },
    ivfAnn.oracle.map(mustReplace(_,
      """      cand AS (
        SELECT q.qid, c.vec_id AS nid
        FROM qprobe q JOIN cells c
          ON q.pcell = c.cell AND c.vec_id <> q.qid),""",
      """      cand AS (
        SELECT q.qid, c.vec_id AS nid
        FROM qprobe q JOIN cells c
          ON q.pcell = c.cell AND c.vec_id <> q.qid
        JOIN embeddings e
          ON e.vec_id = c.vec_id AND e.label % 2 = 0),""")))

  /** Selectivity-ADAPTIVE filtered ANN — the crossover policy that
    * makes [[filteredIvf]] safe under a RARE predicate. Fixed-nprobe
    * filtered probing fails exactly when few of the probed cells'
    * members pass the filter (the classic filtered-ANN recall
    * cliff: at selectivity s the expected filtered candidate count
    * is s × probed population, and below ~k/s the shortlist is
    * starved); the production answers are over-probe, over-fetch,
    * or fall back to an exact scan of the filtered corpus — which
    * at low selectivity is CHEAPER than probing (|filtered corpus|
    * < probed population). This query runs the decision per query:
    * probe nprobe=4 cells with label = 3 ∧ vec_id % 7 = 0
    * (~1.7% selectivity — rare enough that some queries starve at
    * every test scale),
    * count each query's surviving candidates, and queries whose
    * count < k ESCALATE to exact brute force over the filtered
    * corpus — a broadcast of the (few) starved queries against the
    * (small, by the same selectivity that starved them) filtered
    * corpus, the pre-filter plan every vector store ships as the
    * low-selectivity path. The per-query `path` tag rides the
    * output, so the oracle gates the DECISION (a query flipping
    * branch hash-fails on its tag) as well as both branches'
    * arithmetic. Candidate counting reuses the probe's candidate
    * frame (scoped-cached — counted, then scored; never rebuilt). */
  val filteredAdaptive = QueryDef(
    "s_ann_filtered_adaptive",
    "LLM-pipeline similarity: selectivity-adaptive filtered ANN",
    "label=3 ∧ id%7=0 rare filter; underfilled probes fall back to exact pre-filter; top-3 + path tag",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val attrs = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val cents1 = ivfCentroids(emb, 32).cache()
      val cells = ivfCells(emb, cents1)
      val fcells = cells.join(attrs, Seq("vec_id"))
        .filter(col("label") === 3 && col("vec_id") % 7 === 0)
        .drop("label")
      val queries = emb.filter(col("vec_id") < 10)
      val annCand = Scope.cache(
        ivfCandidates(queries, fcells, cents1, nprobe = 4)
          .select(col("qid"), col("qv"), col("qn2"),
            col("vec_id"), col("v"), col("n2")))
      val counts = annCand.groupBy("qid")
        .agg(count(lit(1)).as("n_cand"))
      val mode = queries
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("n2").as("qn2"))
        .join(counts, Seq("qid"), "left")
        .withColumn("path",
          when(coalesce(col("n_cand"), lit(0L)) >= 3, lit("ann"))
            .otherwise(lit("exact")))
      val annPairs = annCand
        .join(mode.filter(col("path") === "ann").select("qid"),
          Seq("qid"))
      val exQ = mode.filter(col("path") === "exact")
        .select(col("qid"), col("qv"), col("qn2"))
      val fembBase = emb.join(attrs, Seq("vec_id"))
        .filter(col("label") === 3 && col("vec_id") % 7 === 0)
        .drop("label")
      // the starved queries are few BY the decision rule and the
      // filtered corpus is small BY the predicate — broadcast the
      // queries, scan the filtered corpus once
      val exPairs = broadcast(exQ)
        .join(fembBase, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qv"), col("qn2"),
          col("vec_id"), col("v"), col("n2"))
      val pairs = annPairs.withColumn("path", lit("ann"))
        .unionByName(exPairs.withColumn("path", lit("exact")))
        .withColumn("dp", dot("qv", "v"))
        .withColumn("cosine",
          asDouble(col("dp")) /
            (sqrt(asDouble(col("qn2"))) * sqrt(asDouble(col("n2")))))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), col("vec_id"))
      pairs
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id").as("nid"), col("cosine"),
          col("rn"), col("path"))
        .orderBy("qid", "rn")
    },
    ivfAnn.oracle.map { base =>
      val withAdaptiveCand = mustReplace(base,
        """      cand AS (
        SELECT q.qid, c.vec_id AS nid
        FROM qprobe q JOIN cells c
          ON q.pcell = c.cell AND c.vec_id <> q.qid),""",
        """      anncand AS (
        SELECT q.qid, c.vec_id AS nid
        FROM qprobe q JOIN cells c
          ON q.pcell = c.cell AND c.vec_id <> q.qid
        JOIN embeddings e
          ON e.vec_id = c.vec_id AND e.label = 3
            AND e.vec_id % 7 = 0),
      qall AS (SELECT DISTINCT qid FROM qprobe),
      candn AS (
        SELECT qid, COUNT(*) AS n_cand FROM anncand GROUP BY qid),
      mode AS (
        SELECT q.qid,
          CASE WHEN COALESCE(c.n_cand, 0) >= 3
            THEN 'ann' ELSE 'exact' END AS path
        FROM qall q LEFT JOIN candn c ON c.qid = q.qid),
      excand AS (
        SELECT m.qid, e.vec_id AS nid
        FROM mode m JOIN embeddings e
          ON e.label = 3 AND e.vec_id % 7 = 0
            AND e.vec_id <> m.qid
        WHERE m.path = 'exact'),
      cand AS (
        SELECT a.qid, a.nid
        FROM anncand a JOIN mode m
          ON m.qid = a.qid AND m.path = 'ann'
        UNION ALL
        SELECT qid, nid FROM excand),""")
      mustReplace(withAdaptiveCand,
        """      SELECT qid, nid, cosine, rn FROM (
        SELECT qid, nid, cosine,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, nid) AS rn
        FROM cos) WHERE rn <= 3
      ORDER BY qid, rn""",
        """      SELECT qid, nid, cosine, rn, path FROM (
        SELECT s.qid, s.nid, s.cosine,
          ROW_NUMBER() OVER (PARTITION BY s.qid
            ORDER BY s.cosine DESC, s.nid) AS rn,
          m.path
        FROM cos s JOIN mode m ON m.qid = s.qid)
      WHERE rn <= 3
      ORDER BY qid, rn""")
    })

  /** Incremental ANN shard ingest (round-11 verdict item 6) — the
    * embedding-side mirror of
    * [[graft.ops.DedupOps.incrementalVerdicts]]: vectors with
    * vec_id % 5 == 0 are the DAILY INCREMENT; the rest are the
    * standing corpus whose trained centroids + cell assignments form
    * the PERSISTED IVF index a deployment keeps on disk — now an
    * actual artifact, [[IvfIndexStore]] (recomputed in-plan here only
    * because a bench query owns no cross-run artifacts; the
    * [[ivfLifecycle]] twin runs this same shortlist THROUGH the
    * saved/loaded artifact, and the increment path itself never
    * retrains centroids or reassigns corpus vectors). Each increment vector is assigned to its
    * nprobe=4 nearest PERSISTED cells (map-side dots against the
    * broadcast centroids) and shortlisted against those cells' corpus
    * members only — the ingest cost is O(increment × k) assignment
    * plus O(increment × probed-cell population) scoring, never
    * corpus × corpus and never a corpus re-train (the s_ann_increment
    * Harness scale points measure the increment scaling). The
    * oracle replays the exact integer arithmetic end-to-end, so a
    * drifted centroid or a mis-probed cell hash-fails rather than
    * passing approximately. */
  val ivfIncrement = QueryDef(
    "s_ann_increment",
    "LLM-pipeline similarity: incremental ANN shard ingest",
    "assign only the increment against the persisted corpus IVF index",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      // k grows with the corpus (~64-vector target cells, the
      // semDedup rule) so the probed-cell population — and with it
      // the per-increment-vector scoring cost — stays CONSTANT as
      // the corpus scales; below 2048 corpus vectors this is the
      // literal 32 the oracle mirrors (every verify SF qualifies)
      val kC = math.max(32L, corpus.count() / 64L).toInt
      // the persisted index: corpus-trained centroids + corpus cells
      val cents = Scope.cache(ivfCentroids(corpus, kC))
      val cells = ivfCells(corpus, cents)
      val pairs = ivfCandidates(inc, cells, cents, nprobe = 4)
        .withColumn("dp", dot("qv", "v"))
        .withColumn("cosine",
          asDouble(col("dp")) /
            (sqrt(asDouble(col("qn2"))) * sqrt(asDouble(col("n2")))))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), col("vec_id"))
      pairs
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id").as("nid"), col("cosine"),
          col("rn"))
        .orderBy("qid", "rn")
    },
    Some("""WITH u AS (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      nrm AS (
        SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM u GROUP BY vec_id),
      c0 AS (SELECT vec_id AS cid, i, x FROM u
             WHERE vec_id < 32 AND vec_id % 5 <> 0),
      c0n AS (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c0 GROUP BY cid),
      a0dot AS (
        SELECT u.vec_id, c0.cid, CAST(SUM(u.x * c0.x) AS BIGINT) AS dp
        FROM u JOIN c0 ON u.i = c0.i
        WHERE u.vec_id % 5 <> 0
        GROUP BY u.vec_id, c0.cid),
      a0 AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a0dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c0n cn ON cn.cid = a.cid)
        WHERE rn = 1),
      c1 AS (
        SELECT a0.cell AS cid, u.i,
          CAST(FLOOR(CAST(SUM(u.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
        FROM u JOIN a0 ON u.vec_id = a0.vec_id
        GROUP BY a0.cell, u.i),
      c1n AS (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c1 GROUP BY cid),
      a1dot AS (
        SELECT u.vec_id, c1.cid, CAST(SUM(u.x * c1.x) AS BIGINT) AS dp
        FROM u JOIN c1 ON u.i = c1.i
        GROUP BY u.vec_id, c1.cid),
      cells AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a1dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c1n cn ON cn.cid = a.cid
          WHERE a.vec_id % 5 <> 0)
        WHERE rn = 1),
      qprobe AS (
        SELECT vec_id AS qid, cid AS pcell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a1dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c1n cn ON cn.cid = a.cid
          WHERE a.vec_id % 5 = 0)
        WHERE rn <= 4),
      cand AS (
        SELECT q.qid, c.vec_id AS nid
        FROM qprobe q JOIN cells c
          ON q.pcell = c.cell AND c.vec_id <> q.qid),
      dots AS (
        SELECT c.qid, c.nid, CAST(SUM(a.x*b.x) AS BIGINT) AS dp
        FROM cand c
        JOIN u a ON a.vec_id = c.qid
        JOIN u b ON b.vec_id = c.nid AND a.i = b.i
        GROUP BY c.qid, c.nid),
      cos AS (
        SELECT qid, nid,
          CAST(dp AS DOUBLE) /
            (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE))) AS cosine
        FROM dots
        JOIN nrm qa ON qa.vec_id = qid
        JOIN nrm qb ON qb.vec_id = nid)
      SELECT qid, nid, cosine, rn FROM (
        SELECT qid, nid, cosine,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, nid) AS rn
        FROM cos) WHERE rn <= 3
      ORDER BY qid, rn"""))

  /** Per-query-thread scratch root for the persisted-index queries: a
    * registered query owns no cross-run artifacts, so each run
    * rebuilds the artifact from the corpus in a deterministic
    * location and the PREVIOUS run's root is cleared on entry (the
    * returned frame is lazy — deleting at the END of run() would
    * race the caller's action; clearing on the NEXT entry bounds the
    * leak to one root per thread without that race). Deployments call
    * [[IvfIndexStore]] against a durable root instead. */
  private[ops] def scratchRoot(tag: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_ivf_${tag}_t${Thread.currentThread().getId}")
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close() // walk holds directory fds until closed
    }
    p.toString
  }

  /** The persisted-index lifecycle, end-to-end through disk: train on
    * the corpus, [[IvfIndexStore.save]] the index, LOAD it back, and
    * run the increment shortlist against the loaded artifact with the
    * bucket-pruned probe. Output is row-identical to
    * [[ivfIncrement]] (same oracle) — so a drifted byte anywhere in
    * the save → load → prune → score path hash-fails the gate rather
    * than passing approximately. This closes the `s_ann_increment`
    * caveat: the index a deployment amortizes across shards is now an
    * actual on-disk artifact, not an in-plan recomputation. */
  val ivfLifecycle = QueryDef(
    "s_ann_index_lifecycle",
    "LLM-pipeline similarity: persisted IVF index lifecycle",
    "build → save → load → bucket-pruned shortlist ≡ in-memory increment",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val kC = math.max(32L, corpus.count() / 64L).toInt
      val root = scratchRoot("lifecycle")
      IvfIndexStore.save(root, corpus, kC)
      val idx = IvfIndexStore.load(s, root)
      IvfIndexStore.shortlist(idx, inc, nprobe = 4, topK = 3)
        .orderBy("qid", "rn")
    },
    ivfIncrement.oracle)

  /** [[filteredIvf]] gated through the persisted artifact: save the
    * corpus index WITH its attribute sidecar
    * ([[IvfIndexStore.save]]'s `attrs` — per-vector metadata
    * bucketed by vec_id beside the inverted lists), load, and run
    * the increment queries through the filtered
    * [[IvfIndexStore.shortlist]] (predicate against the sidecar,
    * allowed ids semi-joined below the distance math, candidate
    * read still bucket-pruned). The oracle is [[ivfIncrement]]'s
    * replay with the predicate spliced into its candidate CTE —
    * so a sidecar row lost in the parquet roundtrip, a predicate
    * evaluated above the window, or a bucket-pruned read that
    * dropped an allowed candidate all hash-fail. */
  val filteredIndex = QueryDef(
    "s_ann_filtered_index",
    "LLM-pipeline similarity: persisted filtered vector search",
    "save(attrs sidecar) → load → shortlist(pred=label%2=0) ≡ filtered replay",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val attrs = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val kC = math.max(32L, corpus.count() / 64L).toInt
      val root = scratchRoot("filteredidx")
      IvfIndexStore.save(root, corpus, kC,
        attrs = Some(attrs.join(corpus.select("vec_id"), Seq("vec_id"))))
      val idx = IvfIndexStore.load(s, root)
      IvfIndexStore.shortlist(idx, inc, nprobe = 4, topK = 3,
        pred = Some(col("label") % 2 === 0))
        .orderBy("qid", "rn")
    },
    ivfIncrement.oracle.map(mustReplace(_,
      """      cand AS (
        SELECT q.qid, c.vec_id AS nid
        FROM qprobe q JOIN cells c
          ON q.pcell = c.cell AND c.vec_id <> q.qid),""",
      """      cand AS (
        SELECT q.qid, c.vec_id AS nid
        FROM qprobe q JOIN cells c
          ON q.pcell = c.cell AND c.vec_id <> q.qid
        JOIN embeddings e
          ON e.vec_id = c.vec_id AND e.label % 2 = 0),""")))


  /** O(increment) shard append, gated through disk: save the corpus
    * index, [[IvfIndexStore.append]] the daily shard (assigned on the
    * FROZEN persisted centroids — no retrain, no corpus reassignment,
    * no corpus read), and return the loaded inverted lists. The
    * oracle recomputes every vector's assignment on the corpus-
    * trained centroids — which equals corpus-assignment ∪ frozen-
    * centroid shard assignment precisely BECAUSE training never saw
    * the shard; a centroid that drifted during append would move some
    * corpus vector's argmax and hash-fail. */
  val ivfAppend = QueryDef(
    "s_ann_index_append",
    "LLM-pipeline similarity: O(increment) index shard append",
    "append assigns the shard on frozen centroids; loaded cells = corpus ∪ shard",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val kC = math.max(32L, corpus.count() / 64L).toInt
      val root = scratchRoot("append")
      IvfIndexStore.save(root, corpus, kC)
      IvfIndexStore.append(s, root, inc)
      IvfIndexStore.load(s, root).cells
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    },
    Some("""WITH u AS (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      nrm AS (
        SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM u GROUP BY vec_id),
      c0 AS (SELECT vec_id AS cid, i, x FROM u
             WHERE vec_id < 32 AND vec_id % 5 <> 0),
      c0n AS (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c0 GROUP BY cid),
      a0dot AS (
        SELECT u.vec_id, c0.cid, CAST(SUM(u.x * c0.x) AS BIGINT) AS dp
        FROM u JOIN c0 ON u.i = c0.i
        WHERE u.vec_id % 5 <> 0
        GROUP BY u.vec_id, c0.cid),
      a0 AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a0dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c0n cn ON cn.cid = a.cid)
        WHERE rn = 1),
      c1 AS (
        SELECT a0.cell AS cid, u.i,
          CAST(FLOOR(CAST(SUM(u.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
        FROM u JOIN a0 ON u.vec_id = a0.vec_id
        GROUP BY a0.cell, u.i),
      c1n AS (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c1 GROUP BY cid),
      a1dot AS (
        SELECT u.vec_id, c1.cid, CAST(SUM(u.x * c1.x) AS BIGINT) AS dp
        FROM u JOIN c1 ON u.i = c1.i
        GROUP BY u.vec_id, c1.cid),
      asg AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a1dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c1n cn ON cn.cid = a.cid)
        WHERE rn = 1)
      SELECT vec_id, cell FROM asg ORDER BY vec_id"""))

  /** The drift monitor's read, gated end-to-end through the persisted
    * artifact: per-cell occupancy after an append on FROZEN centroids
    * ([[IvfIndexStore.cellStats]] — empty cells included, exact
    * bigint counts). This is the observable a deployment polls to
    * decide [[IvfIndexStore.retrain]]: appends crowd a drifting
    * distribution into the cells nearest its new region, and this
    * frame is where that crowding shows (BASELINE.md "Round-12
    * addendum 8" measures the full degrade→retrain→restored arc). The
    * oracle is the append oracle's frozen-centroid assignment replay
    * aggregated
    * per cell — composed from [[ivfAppend]]'s SQL so the twins
    * cannot drift — and a LEFT join from the trained-centroid CTE so
    * an emptied cell hash-fails if the Spark side drops it. */
  val ivfCellStats = QueryDef(
    "s_ann_cell_stats",
    "LLM-pipeline similarity: IVF cell-occupancy drift monitor",
    "save → frozen-centroid append → per-cell counts incl. empty cells",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val kC = math.max(32L, corpus.count() / 64L).toInt
      val root = scratchRoot("cellstats")
      IvfIndexStore.save(root, corpus, kC)
      IvfIndexStore.append(s, root, inc)
      IvfIndexStore.cellStats(IvfIndexStore.load(s, root))
        .orderBy("cell")
    },
    ivfAppend.oracle.map(_.replace(
      "SELECT vec_id, cell FROM asg ORDER BY vec_id",
      """SELECT c.cid AS cell,
        CAST(COUNT(a.vec_id) AS BIGINT) AS n_members
      FROM c1n c LEFT JOIN asg a ON a.cell = c.cid
      GROUP BY c.cid
      ORDER BY cell""")))

  /** Tombstone delete through the persisted artifact — the takedown
    * path (reference mirror: a package delete cascades to its index
    * rows, packagedb/models.py FK on_delete): save the corpus index,
    * append the shard on frozen centroids, then
    * [[IvfIndexStore.delete]] every vec_id ≡ 0 (mod 7) — an O(ids)
    * tombstone commit that never reads or rewrites the lists — and
    * return the loaded inverted lists. The oracle is the append
    * oracle's frozen-centroid assignment replay MINUS the deleted
    * ids: a tombstone that leaked into a surviving row's cell, or a
    * survivor dropped by the anti-join, hash-fails. The mod-7 set
    * intersects both the corpus (mod-5 ≠ 0) and the appended shard
    * (mod-5 = 0), so the filter is exercised across shard dirs, and
    * id 0 — a trained CENTROID seed — is deleted while its centroid
    * survives (deletes never mutate the trained structure;
    * IvfIndexSpec pins the probe-side equivalence and the compact
    * fold). */
  val ivfDelete = QueryDef(
    "s_ann_index_delete",
    "LLM-pipeline similarity: index tombstone delete (takedown)",
    "save → append → delete vec_id%7=0 → loaded cells exclude tombstones",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val kC = math.max(32L, corpus.count() / 64L).toInt
      val root = scratchRoot("delete")
      IvfIndexStore.save(root, corpus, kC)
      IvfIndexStore.append(s, root, inc)
      IvfIndexStore.delete(s, root,
        emb.filter(col("vec_id") % 7 === 0).select("vec_id"))
      IvfIndexStore.load(s, root).cells
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    },
    ivfAppend.oracle.map(_.replace(
      "SELECT vec_id, cell FROM asg ORDER BY vec_id",
      "SELECT vec_id, cell FROM asg WHERE vec_id % 7 <> 0 ORDER BY vec_id")))

  /** The persisted IVF-PQ index, gated end-to-end through disk:
    * train coarse centroids + per-subspace PQ codebooks on the
    * corpus, [[IvfIndexStore.savePq]] (centroids + books + raw-vector
    * lists + packed codes, all bucketed), LOAD it back, and run the
    * increment queries through [[IvfIndexStore.adcShortlist]] — the
    * IVFADC recipe (coarse probe → bucket-pruned ADC over the ~30×
    * smaller code table → exact re-rank of the top-L against the raw
    * lists). Integer-exact end to end (squared-L2 in quantized
    * micro-units), so the oracle replays coarse training, PQ
    * training, encoding, the per-query lookup tables, the ADC sums,
    * and both rank windows bit-for-bit: a drifted byte anywhere in
    * save → load → prune → score → re-rank hash-fails the gate. */
  val pqLifecycle = QueryDef(
    "s_ann_index_pq",
    "LLM-pipeline similarity: persisted IVF-PQ index (IVFADC probe)",
    "savePq → load → coarse probe → ADC top-10 on packed codes → exact re-rank top-3",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val kC = math.max(32L, corpus.count() / 64L).toInt
      val root = scratchRoot("pq")
      IvfIndexStore.savePq(root, corpus, kC, m = 4, ksub = 16)
      val idx = IvfIndexStore.loadPq(s, root)
      IvfIndexStore.adcShortlist(idx, inc, nprobe = 4,
          shortlistL = 10, topK = 3)
        .orderBy("qid", "rn")
    },
    Some("""WITH u AS (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      nrm AS (
        SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM u GROUP BY vec_id),
      c0 AS (SELECT vec_id AS cid, i, x FROM u
             WHERE vec_id < 32 AND vec_id % 5 <> 0),
      c0n AS (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c0 GROUP BY cid),
      a0dot AS (
        SELECT u.vec_id, c0.cid, CAST(SUM(u.x * c0.x) AS BIGINT) AS dp
        FROM u JOIN c0 ON u.i = c0.i
        WHERE u.vec_id % 5 <> 0
        GROUP BY u.vec_id, c0.cid),
      a0 AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a0dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c0n cn ON cn.cid = a.cid)
        WHERE rn = 1),
      c1 AS (
        SELECT a0.cell AS cid, u.i,
          CAST(FLOOR(CAST(SUM(u.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
        FROM u JOIN a0 ON u.vec_id = a0.vec_id
        GROUP BY a0.cell, u.i),
      c1n AS (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c1 GROUP BY cid),
      acd AS (
        SELECT u.vec_id, c1.cid, CAST(SUM(u.x * c1.x) AS BIGINT) AS dp
        FROM u JOIN c1 ON u.i = c1.i
        WHERE u.vec_id % 5 <> 0
        GROUP BY u.vec_id, c1.cid),
      cells AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM acd a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c1n cn ON cn.cid = a.cid)
        WHERE rn = 1),
      qcd AS (
        SELECT u.vec_id, c1.cid, CAST(SUM(u.x * c1.x) AS BIGINT) AS dp
        FROM u JOIN c1 ON u.i = c1.i
        WHERE u.vec_id % 5 = 0
        GROUP BY u.vec_id, c1.cid),
      qprobe AS (
        SELECT vec_id AS qid, cid AS pcell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM qcd a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c1n cn ON cn.cid = a.cid)
        WHERE rn <= 4),
      sv AS (
        SELECT vec_id, CAST((i-1)//16 AS INTEGER) AS sub,
          (i-1)%16 AS j, x FROM u),
      p0 AS (SELECT sub, vec_id AS cid, j, x AS cx FROM sv
             WHERE vec_id < 16 AND vec_id % 5 <> 0),
      pa0d AS (
        SELECT s.vec_id, s.sub, c.cid,
          CAST(SUM((s.x-c.cx)*(s.x-c.cx)) AS BIGINT) AS d2
        FROM sv s JOIN p0 c ON c.sub = s.sub AND c.j = s.j
        WHERE s.vec_id % 5 <> 0
        GROUP BY s.vec_id, s.sub, c.cid),
      pa0 AS (
        SELECT vec_id, sub, cid AS cell FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
              ORDER BY d2, cid) AS rn
          FROM pa0d) WHERE rn = 1),
      pb1 AS (
        SELECT a.sub, a.cell AS cid, s.j,
          CAST(FLOOR(CAST(SUM(s.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cx
        FROM sv s JOIN pa0 a ON a.vec_id = s.vec_id AND a.sub = s.sub
        GROUP BY a.sub, a.cell, s.j),
      ped AS (
        SELECT s.vec_id, s.sub, c.cid,
          CAST(SUM((s.x-c.cx)*(s.x-c.cx)) AS BIGINT) AS d2
        FROM sv s JOIN pb1 c ON c.sub = s.sub AND c.j = s.j
        WHERE s.vec_id % 5 <> 0
        GROUP BY s.vec_id, s.sub, c.cid),
      codes AS (
        SELECT vec_id, sub, cid FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
              ORDER BY d2, cid) AS rn
          FROM ped) WHERE rn = 1),
      qdt AS (
        SELECT s.vec_id AS qid, s.sub, c.cid,
          CAST(SUM((s.x-c.cx)*(s.x-c.cx)) AS BIGINT) AS d2
        FROM sv s JOIN pb1 c ON c.sub = s.sub AND c.j = s.j
        WHERE s.vec_id % 5 = 0
        GROUP BY s.vec_id, s.sub, c.cid),
      adc AS (
        SELECT q.qid, c.vec_id AS nid, CAST(SUM(t.d2) AS BIGINT) AS adc
        FROM qprobe q
        JOIN cells c ON c.cell = q.pcell AND c.vec_id <> q.qid
        JOIN codes k ON k.vec_id = c.vec_id
        JOIN qdt t ON t.qid = q.qid AND t.sub = k.sub AND t.cid = k.cid
        GROUP BY q.qid, c.vec_id),
      short AS (
        SELECT qid, nid FROM (
          SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS arn
          FROM adc) WHERE arn <= 10),
      dots AS (
        SELECT s.qid, s.nid, CAST(SUM(qa.x * qb.x) AS BIGINT) AS dp
        FROM short s
        JOIN u qa ON qa.vec_id = s.qid
        JOIN u qb ON qb.vec_id = s.nid AND qb.i = qa.i
        GROUP BY s.qid, s.nid),
      rer AS (
        SELECT d.qid, d.nid,
          CAST(na.n2 + nb.n2 - 2*d.dp AS BIGINT) AS d2
        FROM dots d
        JOIN nrm na ON na.vec_id = d.qid
        JOIN nrm nb ON nb.vec_id = d.nid)
      SELECT qid, nid, d2, rn FROM (
        SELECT qid, nid, d2,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
        FROM rer) WHERE rn <= 3
      ORDER BY qid, rn"""))

  /** Loud oracle surgery: derive a variant oracle from a base one by
    * exact-anchor replacement — a missing anchor THROWS at registry
    * construction instead of silently shipping the base arithmetic
    * under the variant's name. */
  private def mustReplace(s: String, from: String, to: String): String = {
    require(s.contains(from),
      s"oracle surgery anchor missing:\n$from")
    s.replace(from, to)
  }

  /** RESIDUAL IVF-PQ (IVFADC as published — Jégou et al. §V's
    * by-residual encoding, FAISS `by_residual=true`), gated
    * end-to-end through disk: savePq with `residual = true` trains
    * the codebooks on x − c(cell) and encodes residuals; the ADC
    * probe builds one lookup table per (query, probed cell) — the
    * query's residual to THAT cell's centroid is what the cell's
    * codes quantized against — and the exact re-rank is unchanged.
    * Residuals concentrate the m×ksub quantization budget on
    * within-cell variation — the production default at real budgets
    * (FAISS by_residual=true); BASELINE.md "Round-13: nprobe/recall
    * operating grid + residual PQ" records both encodings honestly
    * (recall@3 = 1.00 at 10×/100× either way; the 1× toy-budget dip
    * is shortlist-L-bound and residuals
    * do not move it — see IvfIndexStore.savePq's scaladoc). All
    * arithmetic stays exact bigint (residual subtraction of two
    * bigint arrays), so the oracle replays the WHOLE path —
    * training-on-residuals, residual encode, per-(query,cell) tables,
    * ADC sums, both rank windows — bit-for-bit. The oracle is the
    * non-residual twin's SQL with three anchored edits (corpus
    * subvectors read residuals; query tables key on the probed cell;
    * the ADC join carries that key), applied loudly so the twins
    * cannot drift apart silently. */
  val pqResidual = QueryDef(
    "s_ann_index_pq_residual",
    "LLM-pipeline similarity: residual IVF-PQ (by-residual IVFADC)",
    "savePq(residual) → per-(query,cell) ADC tables → exact re-rank top-3",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val kC = math.max(32L, corpus.count() / 64L).toInt
      val root = scratchRoot("pqres")
      IvfIndexStore.savePq(root, corpus, kC, m = 4, ksub = 16,
        residual = true)
      val idx = IvfIndexStore.loadPq(s, root)
      IvfIndexStore.adcShortlist(idx, inc, nprobe = 4,
          shortlistL = 10, topK = 3)
        .orderBy("qid", "rn")
    },
    pqLifecycle.oracle.map { base =>
      val withResidualSv = mustReplace(base,
        """      sv AS (
        SELECT vec_id, CAST((i-1)//16 AS INTEGER) AS sub,
          (i-1)%16 AS j, x FROM u),""",
        """      rsv AS (
        SELECT u.vec_id, u.i, u.x - c.x AS x
        FROM u
        JOIN cells a ON a.vec_id = u.vec_id
        JOIN c1 c ON c.cid = a.cell AND c.i = u.i),
      sv AS (
        SELECT vec_id, CAST((i-1)//16 AS INTEGER) AS sub,
          (i-1)%16 AS j, x FROM rsv),""")
      val withResidualQdt = mustReplace(withResidualSv,
        """      qdt AS (
        SELECT s.vec_id AS qid, s.sub, c.cid,
          CAST(SUM((s.x-c.cx)*(s.x-c.cx)) AS BIGINT) AS d2
        FROM sv s JOIN pb1 c ON c.sub = s.sub AND c.j = s.j
        WHERE s.vec_id % 5 = 0
        GROUP BY s.vec_id, s.sub, c.cid),""",
        """      qrsv AS (
        SELECT q.qid, q.pcell, u.i, u.x - c.x AS x
        FROM qprobe q
        JOIN u ON u.vec_id = q.qid
        JOIN c1 c ON c.cid = q.pcell AND c.i = u.i),
      qsv AS (
        SELECT qid, pcell, CAST((i-1)//16 AS INTEGER) AS sub,
          (i-1)%16 AS j, x FROM qrsv),
      qdt AS (
        SELECT s.qid, s.pcell, s.sub, c.cid,
          CAST(SUM((s.x-c.cx)*(s.x-c.cx)) AS BIGINT) AS d2
        FROM qsv s JOIN pb1 c ON c.sub = s.sub AND c.j = s.j
        GROUP BY s.qid, s.pcell, s.sub, c.cid),""")
      mustReplace(withResidualQdt,
        "JOIN qdt t ON t.qid = q.qid AND t.sub = k.sub " +
          "AND t.cid = k.cid",
        "JOIN qdt t ON t.qid = q.qid AND t.pcell = q.pcell " +
          "AND t.sub = k.sub AND t.cid = k.cid")
    })

  /** The PQ layer's O(increment) append, gated through disk on the
    * CODE path: savePq the corpus, [[IvfIndexStore.appendPq]] the
    * shard (encoded on the FROZEN persisted codebooks + assigned on
    * the frozen coarse centroids — no retrain, no corpus read), and
    * return the loaded packed codes unpacked to (vec_id, sub, cid).
    * The oracle recomputes every vector's encode on the
    * corpus-trained codebooks — which equals corpus-encode ∪
    * frozen-book shard encode precisely BECAUSE training never saw
    * the shard — with the same dense per-subspace renumbering the
    * store persists (DENSE_RANK over training cids), so a codebook
    * that drifted during append, a dropped code row, or a
    * mis-renumbered id all hash-fail. */
  val pqCodes = QueryDef(
    "s_ann_index_pq_codes",
    "LLM-pipeline similarity: frozen-codebook PQ shard encode",
    "appendPq encodes the shard on frozen books; loaded codes = corpus ∪ shard",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val kC = math.max(32L, corpus.count() / 64L).toInt
      val root = scratchRoot("pqcodes")
      IvfIndexStore.savePq(root, corpus, kC, m = 4, ksub = 16)
      IvfIndexStore.appendPq(s, root, inc)
      IvfIndexStore.loadPq(s, root).codes
        .select(col("vec_id"), posexplode(col("code")).as(Seq("sub", "c")))
        .select(col("vec_id"), col("sub"), col("c").cast("long").as("cid"))
        .orderBy("vec_id", "sub")
    },
    Some("""WITH u AS (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      sv AS (
        SELECT vec_id, CAST((i-1)//16 AS INTEGER) AS sub,
          (i-1)%16 AS j, x FROM u),
      p0 AS (SELECT sub, vec_id AS cid, j, x AS cx FROM sv
             WHERE vec_id < 16 AND vec_id % 5 <> 0),
      pa0d AS (
        SELECT s.vec_id, s.sub, c.cid,
          CAST(SUM((s.x-c.cx)*(s.x-c.cx)) AS BIGINT) AS d2
        FROM sv s JOIN p0 c ON c.sub = s.sub AND c.j = s.j
        WHERE s.vec_id % 5 <> 0
        GROUP BY s.vec_id, s.sub, c.cid),
      pa0 AS (
        SELECT vec_id, sub, cid AS cell FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
              ORDER BY d2, cid) AS rn
          FROM pa0d) WHERE rn = 1),
      pb1 AS (
        SELECT a.sub, a.cell AS cid, s.j,
          CAST(FLOOR(CAST(SUM(s.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cx
        FROM sv s JOIN pa0 a ON a.vec_id = s.vec_id AND a.sub = s.sub
        GROUP BY a.sub, a.cell, s.j),
      pdense AS (
        SELECT sub, cid,
          CAST(DENSE_RANK() OVER (PARTITION BY sub ORDER BY cid) - 1
            AS BIGINT) AS dcid
        FROM (SELECT DISTINCT sub, cid FROM pb1)),
      ped AS (
        SELECT s.vec_id, s.sub, c.cid,
          CAST(SUM((s.x-c.cx)*(s.x-c.cx)) AS BIGINT) AS d2
        FROM sv s JOIN pb1 c ON c.sub = s.sub AND c.j = s.j
        GROUP BY s.vec_id, s.sub, c.cid),
      codes AS (
        SELECT vec_id, sub, cid FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
              ORDER BY d2, cid) AS rn
          FROM ped) WHERE rn = 1)
      SELECT c.vec_id, c.sub, d.dcid AS cid
      FROM codes c JOIN pdense d ON d.sub = c.sub AND d.cid = c.cid
      ORDER BY c.vec_id, c.sub"""))

  /** Semantic dedup in the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the trained
    * IVF coarse quantizer, then WITHIN each cluster drop every vector
    * that has a same-cell neighbor above the cosine threshold, keeping
    * one deterministic representative (lowest vec_id — the paper keeps
    * the vector farthest from the centroid; lowest-id is the
    * order-stable stand-in that both engines reproduce exactly).
    * The drop relation runs against all same-cell vectors, not only
    * kept ones, so the decision per vector is independent of other
    * decisions — no iteration, one shuffle-bounded self-join.
    *
    * 100 TB shape: identical to IVF — centroids broadcast, cell
    * assignment map-side, and the only self-join is the within-cell
    * pair join, an equi-join on cell whose cost is Σ|cell|². k GROWS
    * WITH THE CORPUS (k = max(32, n/64), i.e. ~64-vector target
    * cells), which keeps that pair join linear: a fixed k measured
    * 501 s at the 100× scale point (quadratic cells) vs ~linear with
    * scaled k. Assignment cost is n×k map-side dot products — the
    * price every k-means-based index pays, embarrassingly parallel,
    * zero shuffle. This is exactly why SemDeDup clusters first: the
    * all-pairs cosine matrix never materializes. */
  /** Filtered IVFADC — [[filteredIndex]]'s PQ twin: the predicate
    * runs on the attr sidecar and the allowed ids semi-join the
    * probed CODE scan, so a failing candidate never costs an ADC
    * table lookup and the fixed-L shortlist fills with PASSING
    * candidates (post-filtering an unfiltered ADC shortlist starves
    * at rare predicates — the compounded version of the gap
    * BASELINE.md "filtered vector search" measures on the flat
    * path). Oracle: the [[pqLifecycle]] replay with the predicate
    * spliced into its ADC
    * candidate CTE, so the filter's position relative to the ADC
    * scoring, the shortlist window, and the exact re-rank is all
    * gated — a filter applied after the shortlist instead of before
    * it produces a different (starved) top-3 and hash-fails. */
  val filteredPq = QueryDef(
    "s_ann_filtered_pq",
    "LLM-pipeline similarity: filtered IVFADC (PQ + attr sidecar)",
    "savePq(attrs) -> load -> ADC with label%2=0 semi-joined below the code scan -> re-rank",
    (s, dir) => {
      val emb = Scope.cache(quantized(s, dir))
      val attrs = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val kC = math.max(32L, corpus.count() / 64L).toInt
      val root = scratchRoot("filteredpq")
      IvfIndexStore.savePq(root, corpus, kC, m = 4, ksub = 16,
        attrs = Some(attrs.join(corpus.select("vec_id"), Seq("vec_id"))))
      val idx = IvfIndexStore.loadPq(s, root)
      IvfIndexStore.adcShortlist(idx, inc, nprobe = 4,
          shortlistL = 10, topK = 3,
          pred = Some(col("label") % 2 === 0))
        .orderBy("qid", "rn")
    },
    pqLifecycle.oracle.map(mustReplace(_,
      """      adc AS (
        SELECT q.qid, c.vec_id AS nid, CAST(SUM(t.d2) AS BIGINT) AS adc
        FROM qprobe q
        JOIN cells c ON c.cell = q.pcell AND c.vec_id <> q.qid
        JOIN codes k ON k.vec_id = c.vec_id
        JOIN qdt t ON t.qid = q.qid AND t.sub = k.sub AND t.cid = k.cid
        GROUP BY q.qid, c.vec_id),""",
      """      adc AS (
        SELECT q.qid, c.vec_id AS nid, CAST(SUM(t.d2) AS BIGINT) AS adc
        FROM qprobe q
        JOIN cells c ON c.cell = q.pcell AND c.vec_id <> q.qid
        JOIN embeddings e ON e.vec_id = c.vec_id AND e.label % 2 = 0
        JOIN codes k ON k.vec_id = c.vec_id
        JOIN qdt t ON t.qid = q.qid AND t.sub = k.sub AND t.cid = k.cid
        GROUP BY q.qid, c.vec_id),""")))

  val semDedup = QueryDef(
    "d_semdedup", "LLM-pipeline dedup: semantic (SemDeDup)",
    "IVF cells (k scales with n) → within-cell cos ≥ 0.4 → low-id keeper",
    (s, dir) => {
      val emb = quantized(s, dir)
      // k from the corpus size: one metadata-cheap count (the scan is
      // column-pruned to nothing), deterministic, mirrored by the
      // oracle's scalar subquery; 32 at oracle scales
      val k = math.max(32L, emb.count() / 64L).toInt
      // centroid training reused verbatim from the IVF path; cached
      // because cell assignment consumes it once per side of the join
      val cents1 = ivfCentroids(emb, k).cache()
      val cells = ivfCells(emb, cents1)
        .select(col("vec_id"), col("v"), col("n2"), col("cell"))
        .cache()
      val a = cells.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("n2").as("n2a"), col("cell"))
      val b = cells.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("n2").as("n2b"), col("cell"))
      val dropped = a.join(b, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("dp", dot("va", "vb"))
        .withColumn("cosine",
          asDouble(col("dp")) /
            (sqrt(asDouble(col("n2a"))) * sqrt(asDouble(col("n2b")))))
        .filter(col("cosine") >= 0.4)
        .select(col("id_b").as("vec_id")).distinct()
        .withColumn("is_dropped", lit(1))
      cells.select("vec_id", "cell")
        .join(dropped, Seq("vec_id"), "left")
        .withColumn("keep",
          when(col("is_dropped").isNull, 1).otherwise(0))
        .select("vec_id", "cell", "keep")
        .orderBy("vec_id")
    },
    Some("""WITH u AS (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      nrm AS (
        SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM u GROUP BY vec_id),
      kk AS (
        SELECT GREATEST(32, COUNT(DISTINCT vec_id) // 64) AS k FROM u),
      c0 AS (SELECT vec_id AS cid, i, x FROM u, kk WHERE vec_id < kk.k),
      c0n AS (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c0 GROUP BY cid),
      a0dot AS (
        SELECT u.vec_id, c0.cid, CAST(SUM(u.x * c0.x) AS BIGINT) AS dp
        FROM u JOIN c0 ON u.i = c0.i
        GROUP BY u.vec_id, c0.cid),
      a0 AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a0dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c0n cn ON cn.cid = a.cid)
        WHERE rn = 1),
      c1 AS (
        SELECT a0.cell AS cid, u.i,
          CAST(FLOOR(CAST(SUM(u.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
        FROM u JOIN a0 ON u.vec_id = a0.vec_id
        GROUP BY a0.cell, u.i),
      c1n AS (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c1 GROUP BY cid),
      a1dot AS (
        SELECT u.vec_id, c1.cid, CAST(SUM(u.x * c1.x) AS BIGINT) AS dp
        FROM u JOIN c1 ON u.i = c1.i
        GROUP BY u.vec_id, c1.cid),
      cells AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT a.vec_id, a.cid,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              CAST(a.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, a.cid) AS rn
          FROM a1dot a
          JOIN nrm n ON n.vec_id = a.vec_id
          JOIN c1n cn ON cn.cid = a.cid)
        WHERE rn = 1),
      cand AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM cells x JOIN cells y
          ON x.cell = y.cell AND x.vec_id < y.vec_id),
      pdots AS (
        SELECT c.id_a, c.id_b, CAST(SUM(ua.x*ub.x) AS BIGINT) AS dp
        FROM cand c
        JOIN u ua ON ua.vec_id = c.id_a
        JOIN u ub ON ub.vec_id = c.id_b AND ua.i = ub.i
        GROUP BY c.id_a, c.id_b),
      drp AS (
        SELECT DISTINCT p.id_b AS vec_id
        FROM pdots p
        JOIN nrm na ON na.vec_id = p.id_a
        JOIN nrm nb ON nb.vec_id = p.id_b
        WHERE CAST(p.dp AS DOUBLE) /
            (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
            >= 0.4)
      SELECT c.vec_id, c.cell,
        CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
      FROM cells c LEFT JOIN drp d ON d.vec_id = c.vec_id
      ORDER BY c.vec_id"""))

  /** Product-quantization ANN (FAISS PQ shape, Jégou et al. 2011):
    * the vector splits into m=4 subspaces of 16 dims; each subspace
    * trains k=16 centroids (same seed + one-Lloyd-iteration recipe as
    * IVF, in exact integer arithmetic); every vector encodes to 4
    * small centroid ids (the PQ code); queries build a 4×16 distance
    * table and score the whole code table by Asymmetric Distance
    * Computation — the sum of 4 table lookups. Distances are exact
    * integer squared-L2 over the quantized components END TO END, so
    * ranking is bit-deterministic and the DuckDB oracle mirrors every
    * stage with no floating-point anywhere.
    *
    * A 32-bit code (4×16 centroids) is lossy by design, so the final
    * answer follows the production IVFADC+R recipe (Jégou et al. §V):
    * ADC scores the whole code table, the top-L=100 shortlist is
    * re-ranked with EXACT integer distances, and only the re-ranked
    * top-3 is returned — quantization error bounds the shortlist,
    * never the answer.
    *
    * 100 TB shape: centroids are 4×16 rows (broadcast); encoding is a
    * map-side broadcast argmin over SUBVECTOR ARRAYS — distances come
    * from the identity Σ(x−c)² = |x|² + |c|² − 2⟨x,c⟩ with a single
    * codegen'd dot per (vector, subspace, centroid), so candidate
    * scoring never explodes to per-component rows (the exploded form
    * shuffled 103M rows at the 100× point; this shape shuffles the
    * n×m narrow assignment rows only). Components explode ONCE, for
    * the Lloyd centroid update — a per-position mean needs them. The
    * code table is 4 small ints per vector (the 64× memory
    * compression that makes PQ the billion-vector standard); ADC is a
    * broadcast join of the 640-row distance table against the code
    * table — one linear scan, no shuffle of vectors, exactly how
    * IVF-PQ scans its cells. The re-rank joins L×|queries| id pairs
    * back to full vectors — bounded by the shortlist, not the
    * corpus. */
  val pqAnn = QueryDef(
    "s_cosine_ann_pq", "LLM-pipeline similarity: product-quantization ANN",
    "m=4×16-dim PQ, k=16/subspace, integer ADC top-100 → exact re-rank",
    (s, dir) => {
      import graft.functions.GraftFunctions.dot_long
      // (vec_id, sub, sv, svn2): 16-dim subvectors with their norms
      val subv = quantized(s, dir)
        .select(col("vec_id"), explode(expr(
          """transform(sequence(0, 3),
               s -> struct(CAST(s AS INT) AS sub,
                           slice(v, s*16 + 1, 16) AS sv))"""))
          .as("e"))
        .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
        .withColumn("svn2", dot_long(col("sv"), col("sv")))
        .cache()
      // argmin by exact integer d2 = svn2 + cvn2 − 2⟨sv,cv⟩; scored
      // rows are projected NARROW before the window (same discipline
      // as nearestCells — arrays never enter the rank shuffle)
      def argmin(cents: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val d = subv.join(cents, Seq("sub"))
          .select(col("vec_id"), col("sub"), col("cid"),
            (col("svn2") + col("cvn2") -
              lit(2L) * dot_long(col("sv"), col("cv"))).as("d2"))
        val w = Window.partitionBy(col("vec_id"), col("sub"))
          .orderBy(col("d2"), col("cid"))
        d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("sub"), col("cid").as("cell"))
      }
      val seeds = broadcast(subv.filter(col("vec_id") < 16)
        .select(col("sub"), col("vec_id").as("cid"),
          col("sv").as("cv"), col("svn2").as("cvn2")))
      val assign0 = argmin(seeds)
      // Lloyd update: the one place components must explode — the
      // per-position floor-mean; rebuilt into centroid arrays
      val trained = broadcast(subv
        .join(assign0, Seq("vec_id", "sub"))
        .select(col("sub"), col("cell"),
          posexplode(col("sv")).as(Seq("j", "x")))
        .groupBy(col("sub"), col("cell"), col("j"))
        .agg(expr(
          "CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)")
          .as("cx"))
        .groupBy(col("sub"), col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(j, cx)))," +
          " s -> s.cx)").as("cv"))
        .select(col("sub"), col("cell").as("cid"), col("cv"))
        .withColumn("cvn2", dot_long(col("cv"), col("cv"))))
      val codes = argmin(trained)
      // query ADC tables: exact d2 to EVERY centroid of every subspace;
      // columns renamed so the lineage-shared join below is
      // unambiguous (codes and dtab both descend from `subv`)
      val dtab = broadcast(subv.filter(col("vec_id") < 10)
        .join(trained, Seq("sub"))
        .select(col("vec_id").as("qid"), col("sub").as("qsub"),
          col("cid").as("qcid"),
          (col("svn2") + col("cvn2") -
            lit(2L) * dot_long(col("sv"), col("cv"))).as("d2")))
      val adc = codes
        .join(dtab, col("sub") === col("qsub") &&
          col("cell") === col("qcid") && col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id").as("nid"))
        .agg(sum("d2").as("adc"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("adc"), col("nid"))
      val shortlist = adc.withColumn("arn", row_number().over(w))
        .filter(col("arn") <= 100)
        .select("qid", "nid")
      // exact re-rank of the shortlist: d2 = |q|² + |n|² − 2⟨q,n⟩,
      // all integers — the quantizer bounds the candidate set only
      val emb = quantized(s, dir)
      val rer = shortlist
        .join(emb.select(col("vec_id").as("qid"), col("v").as("qv"),
          col("n2").as("qn2")), "qid")
        .join(emb.select(col("vec_id").as("nid"), col("v").as("nv"),
          col("n2").as("nn2")), "nid")
        .withColumn("dp", dot("qv", "nv"))
        .withColumn("d2", col("qn2") + col("nn2") - lit(2L) * col("dp"))
      val w2 = Window.partitionBy(col("qid"))
        .orderBy(col("d2"), col("nid"))
      rer.withColumn("rn", row_number().over(w2))
        .filter(col("rn") <= 3)
        .select("qid", "nid", "d2", "rn")
        .orderBy("qid", "rn")
    },
    Some("""WITH u AS (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      s AS (
        SELECT vec_id, CAST((i-1)//16 AS INTEGER) AS sub,
          (i-1)%16 AS j, x FROM u),
      c0 AS (
        SELECT sub, j, vec_id AS cid, x AS cx FROM s WHERE vec_id < 16),
      a0d AS (
        SELECT s.vec_id, s.sub, c.cid,
          CAST(SUM((s.x-c.cx)*(s.x-c.cx)) AS BIGINT) AS d2
        FROM s JOIN c0 c ON c.sub = s.sub AND c.j = s.j
        GROUP BY s.vec_id, s.sub, c.cid),
      a0 AS (
        SELECT vec_id, sub, cid AS cell FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
              ORDER BY d2, cid) AS rn
          FROM a0d) WHERE rn = 1),
      c1 AS (
        SELECT a0.sub, a0.cell AS cid, s.j,
          CAST(FLOOR(CAST(SUM(s.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cx
        FROM s JOIN a0 ON a0.vec_id = s.vec_id AND a0.sub = s.sub
        GROUP BY a0.sub, a0.cell, s.j),
      ed AS (
        SELECT s.vec_id, s.sub, c.cid,
          CAST(SUM((s.x-c.cx)*(s.x-c.cx)) AS BIGINT) AS d2
        FROM s JOIN c1 c ON c.sub = s.sub AND c.j = s.j
        GROUP BY s.vec_id, s.sub, c.cid),
      codes AS (
        SELECT vec_id, sub, cid AS cell FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
              ORDER BY d2, cid) AS rn
          FROM ed) WHERE rn = 1),
      dtab AS (
        SELECT s.vec_id AS qid, s.sub, c.cid,
          CAST(SUM((s.x-c.cx)*(s.x-c.cx)) AS BIGINT) AS d2
        FROM s JOIN c1 c ON c.sub = s.sub AND c.j = s.j
        WHERE s.vec_id < 10
        GROUP BY s.vec_id, s.sub, c.cid),
      adc AS (
        SELECT d.qid, co.vec_id AS nid, CAST(SUM(d.d2) AS BIGINT) AS adc
        FROM codes co
        JOIN dtab d ON d.sub = co.sub AND d.cid = co.cell
          AND co.vec_id <> d.qid
        GROUP BY d.qid, co.vec_id),
      short AS (
        SELECT qid, nid FROM (
          SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS arn
          FROM adc) WHERE arn <= 100),
      rd AS (
        SELECT sh.qid, sh.nid,
          CAST(SUM((a.x-b.x)*(a.x-b.x)) AS BIGINT) AS d2
        FROM short sh
        JOIN u a ON a.vec_id = sh.qid
        JOIN u b ON b.vec_id = sh.nid AND b.i = a.i
        GROUP BY sh.qid, sh.nid)
      SELECT qid, nid, d2, rn FROM (
        SELECT qid, nid, d2,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
        FROM rd) WHERE rn <= 3
      ORDER BY qid, rn"""))

  /** Exact top-3 kNN frame (a, b, cosine) via the broadcast-bounded
    * all-pairs baseline — the oracle-able side of the mutual-kNN
    * family. Takes the [[quantized]] frame so callers comparing exact
    * vs ANN share one scan+quantize (s_knn_ann_recall runs both). */
  private def exactKnn(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val idx = broadcast(emb.select(col("vec_id").as("nid"),
      col("v").as("nv"), col("n2").as("nn2")))
    val w = Window.partitionBy("vec_id").orderBy(desc("cosine"), col("nid"))
    emb.join(idx, col("vec_id") =!= col("nid"))
      .withColumn("cosine",
        asDouble(dot("v", "nv")) /
          (sqrt(asDouble(col("n2"))) * sqrt(asDouble(col("nn2")))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("vec_id").as("a"), col("nid").as("b"), col("cosine"))
  }

  /** [[graft.Scope.checkpoint]] for the ANN pipeline's NESTING
    * MULTIPLIERS (each stage references the previous one 2-5×, so
    * plain cached plans grow exponentially — the recall query's
    * printed plan reached 108k InMemoryTableScan nodes and the DRIVER
    * spent tens of seconds canonicalizing it; `localCheckpoint`
    * collapses the subtree to a LogicalRDD leaf, so downstream plans
    * stay constant-size while the blocks live in the block manager
    * exactly like a cache). Cluster tradeoff: localCheckpoint
    * truncates LINEAGE, so a lost executor fails the job instead of
    * recomputing — acceptable here because every checkpointed frame is
    * a per-query intermediate a retry rebuilds from parquet in one
    * pass; an always-on 100 TB deployment swaps in reliable
    * `checkpoint()` against its checkpoint dir at the same call sites.
    * Disable via `spark.graft.ann.checkpoint=false` to expose the full
    * logical tree (PlanSpec pins the join shapes that way; the frame
    * is then scope-cached instead). */
  private def ckpt(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    if (df.sparkSession.conf.get("spark.graft.ann.checkpoint", "true")
        != "true") Scope.cache(df)
    else Scope.checkpoint(df)

  /** Frees this thread's root [[graft.Scope]] region. */
  def releaseCaches(): Unit = Scope.release()

  /** Two-level (coarse→fine) centroid ranking — the hierarchical
    * assignment pass. The first `kc` centroids of `cents` (by cid
    * rank) act as super-centroids; every centroid maps to its nearest
    * super-cell (k×kc work, equi-join shaped), and a vector scores
    * (a) the kc supers — n·kc narrow rows — then (b) only the member
    * centroids of its `cprobe` best super-cells — n·cprobe·(k/kc)
    * expected rows. With k = Θ(n) constant-size cells and
    * kc = √(cprobe·k) the two legs balance at 2√(cprobe·k) = Θ(√n)
    * per-vector (vs the r9 flat pass's Θ(k) = Θ(n)); the only
    * broadcast is the Θ(√n) super frame (10⁹ vectors → k ≈ 1.6e7,
    * kc ≈ 11k supers × 64 dims × 8 B ≈ 5.7 MB), while the k-sized
    * centroid frame reaches vectors through a hash equi-join on sid
    * (never a Θ(n) broadcast — the other half of the r9 finding).
    * At the sf0.01 oracle scale (n=500 → k=32, kc=20 > cprobe=12) the
    * hierarchy is ENGAGED, so the oracle pins the coarse→fine logic
    * itself, not a flat-equivalent collapse. Returns narrow
    * (vec_id, cid, crn) rows with crn ≤ nprobe; crn = 1 is the cell
    * assignment. */
  private def twoLevelRanked(emb: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, kc: Int, cprobe: Int,
      nprobe: Int): org.apache.spark.sql.DataFrame = {
    // kc smallest cids: orderBy+limit plans as a distributed
    // TakeOrderedAndProject (no single-partition window over the
    // k-sized frame); same rows as ROW_NUMBER OVER (ORDER BY cid)
    // ≤ kc — cids are unique, so the top-kc set has no tie ambiguity
    val supers = broadcast(cents.orderBy("cid").limit(kc)
      .select(col("cid").as("sid"), col("cv").as("sv"),
        col("cn2").as("sn2")))
    // centroid → nearest super-cell (its own cell for a super: self
    // cosine 1.0 ranks first)
    val wCm = Window.partitionBy("cid").orderBy(desc("scos"), col("sid"))
    val cmap = cents.join(supers)
      .withColumn("sdp", dot("cv", "sv"))
      .withColumn("scos", asDouble(col("sdp")) /
        (sqrt(asDouble(col("cn2"))) * sqrt(asDouble(col("sn2")))))
      .withColumn("mrn", row_number().over(wCm)).filter(col("mrn") === 1)
      .select(col("sid"), col("cid"), col("cv"), col("cn2"))
    // vector → top-cprobe super-cells, narrow rows through the window
    val wVs = Window.partitionBy("vec_id").orderBy(desc("vscos"), col("sid"))
    val vsup = emb.join(supers)
      .withColumn("vsdp", dot("v", "sv"))
      .select(col("vec_id"), col("sid"),
        (asDouble(col("vsdp")) /
          (sqrt(asDouble(col("n2"))) * sqrt(asDouble(col("sn2")))))
          .as("vscos"))
      .withColumn("vsrn", row_number().over(wVs))
      .filter(col("vsrn") <= cprobe)
      .select("vec_id", "sid")
    // fine ranking: re-attach v once per probed super (linear
    // equi-join), fan out to member centroids via the broadcast map,
    // project narrow before the window (the nearestCells width lesson)
    val wc = Window.partitionBy("vec_id").orderBy(desc("ccos"), col("cid"))
    emb.join(vsup, "vec_id")
      .join(cmap, "sid")
      .withColumn("cdp", dot("v", "cv"))
      .select(col("vec_id"), col("cid"),
        (asDouble(col("cdp")) /
          (sqrt(asDouble(col("n2"))) * sqrt(asDouble(col("cn2")))))
          .as("ccos"))
      .withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= nprobe)
      .select("vec_id", "cid", "crn")
  }

  /** L-level generalization of [[twoLevelRanked]], engaged when
    * `spark.graft.ann.levels` > 2 (the default depth-2 path keeps the
    * oracle-pinned [[twoLevelRanked]] verbatim — depth, like
    * nprobe/cprobe, is a recall-vs-cost KNOB, measured in BASELINE.md
    * "Round-10: depth-L hierarchy", not an oracle-pinned semantic).
    * Each level over a k-sized table picks kc = ⌈(cprobe·k)^((ℓ-1)/ℓ)⌉
    * supers — the balance point of
    * the recursive cost — and ranks BOTH vectors→supers and
    * centroids→supers through the (ℓ−1)-level pass, so per-vector
    * assignment work is Θ(ℓ·(cprobe^(ℓ−1)·k)^(1/ℓ)) (≈ n^(1/3) at
    * ℓ=3 under constant cells, vs √n at ℓ=2 and log n at
    * ℓ = log k) and no stage nested-loops a corpus-sized side: the
    * only broadcasts are the ≤64-row base tables and the per-level
    * super frames, every one strictly smaller than the level above.
    * Returns narrow (vec_id, cid, crn ≤ nprobe) rows like the
    * two-level pass. */
  private def hierRanked(emb: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, k: Long, cprobe: Int,
      nprobe: Int, levels: Int): org.apache.spark.sql.DataFrame = {
    val wc = Window.partitionBy("vec_id").orderBy(desc("ccos"), col("cid"))
    def cosine = asDouble(col("cdp")) /
      (sqrt(asDouble(col("n2"))) * sqrt(asDouble(col("cn2"))))
    if (levels <= 1 || k <= 64) {
      // flat base: the table is depth-exhausted or tiny — a bounded
      // broadcast, never a corpus-sized side
      emb.join(broadcast(cents))
        .withColumn("cdp", dot("v", "cv"))
        .select(col("vec_id"), col("cid"), cosine.as("ccos"))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= nprobe)
        .select("vec_id", "cid", "crn")
    } else {
      val kc = math.max(4L, math.min(k - 1, math.ceil(math.pow(
        cprobe.toDouble * k, (levels - 1).toDouble / levels)).toLong))
      val supers = cents.orderBy("cid").limit(kc.toInt)
      // centroid → nearest super, itself through the shallower pass
      val cmap = hierRanked(
        cents.select(col("cid").as("vec_id"), col("cv").as("v"),
          col("cn2").as("n2")),
        supers, kc, cprobe, 1, levels - 1)
        .select(col("cid").as("sid"), col("vec_id").as("cid0"))
        .join(cents.select(col("cid").as("cid0"), col("cv"),
          col("cn2")), "cid0")
        .select(col("sid"), col("cid0").as("cid"), col("cv"), col("cn2"))
      // vector → top-cprobe supers through the shallower pass
      val vsup = hierRanked(emb, supers, kc, cprobe, cprobe, levels - 1)
        .select(col("vec_id"), col("cid").as("sid"))
      // fine ranking over the probed supers' members (hash equi-joins)
      emb.join(vsup, "vec_id")
        .join(cmap, "sid")
        .withColumn("cdp", dot("v", "cv"))
        .select(col("vec_id"), col("cid"), cosine.as("ccos"))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= nprobe)
        .select("vec_id", "cid", "crn")
    }
  }

  /** Per-vector dot-product budget per assignment level: with
    * kc = (cprobe·k)^((ℓ-1)/ℓ) supers per level, a level's widest
    * scored frame is ~(cprobe·k)^(1/ℓ) rows per vector; 4096 keeps a
    * level's per-vector work at most ~4096 64-dim dots (~1 µs-scale
    * each), the same order as the constant candidate scan
    * (nprobe·64). */
  private val LevelBudget = 4096.0

  /** Depth knob shared by training and probing:
    * `spark.graft.ann.levels` = explicit int pins the depth (2 = the
    * oracle-pinned [[twoLevelRanked]]; >2 = [[hierRanked]]);
    * unset/"auto" derives it from the centroid count — the smallest
    * L ≥ 2 with k^(1/(L-1)) ≤ [[LevelBudget]], i.e.
    * L = 2 + max(0, ⌈log k / log 4096⌉ − 1): k ≤ 4096 → 2 (every
    * sf0.01/sf0.1 oracle and the 100× Harness scale point, so the
    * pinned plans are unchanged), k ≤ 4096² (n ≈ 10⁹) → 3, beyond →
    * 4. A 100 TB corpus therefore picks its own depth instead of
    * leaving the Θ(n^1.5) total assignment work of a fixed L=2 on
    * the table (round-10 verdict "what's wrong" #1); the measured
    * L=3 point is in BASELINE.md. */
  private def rankLevels(s: org.apache.spark.sql.SparkSession,
      k: Long): Int =
    s.conf.get("spark.graft.ann.levels", "auto") match {
      case "auto" => autoLevels(k)
      case v      => v.toInt
    }

  /** The auto-depth rule (public for the spec pin): smallest L ≥ 2
    * with k^(1/(L-1)) ≤ 4096. */
  def autoLevels(k: Long): Int =
    2 + math.max(0,
      math.ceil(math.log(k.toDouble) / math.log(LevelBudget)).toInt - 1)

  /** Seed-and-one-Lloyd-iteration centroid training with the
    * TWO-LEVEL assignment (vs [[ivfCentroids]]'s flat n×k pass, which
    * is the right shape only while k is a constant): seeds are the
    * first k vectors, every corpus vector assigns to its seed through
    * [[twoLevelRanked]] (n·2√(cprobe·k) work), and the update
    * floor-averages components per cell in exact integer arithmetic
    * so the DuckDB oracle mirrors training bit-for-bit. The seed and
    * trained frames are k-sized (Θ(n) under the constant-cell
    * policy): no broadcast hints — they reach vectors via hash
    * equi-joins, and AQE localizes them when small. */
  private def annCentroids(emb: org.apache.spark.sql.DataFrame, k: Int,
      kc: Int, cprobe: Int): org.apache.spark.sql.DataFrame = {
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("n2").as("cn2"))
    val lv = rankLevels(emb.sparkSession, k.toLong)
    val assign = (if (lv <= 2) twoLevelRanked(emb, seeds, kc, cprobe, 1)
      else hierRanked(emb, seeds, k.toLong, cprobe, 1, lv))
      .select(col("vec_id"), col("cid").as("cell"))
    (emb.join(assign, "vec_id")
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
      .withColumn("cx", expr(
        "CAST(FLOOR(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE)) AS BIGINT)"))
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx)))," +
        " s -> s.cx)").as("cv"))
      .select(col("cell").as("cid"), col("cv"))
      .withColumn("cn2", dot("cv", "cv")))
  }

  /** ANN top-3 kNN frame from the trained-IVF candidate generator run
    * corpus-wide: every vector probes its nprobe nearest cells,
    * candidates are the cell equi-join, exact quantized cosine on
    * candidates only. k = n/64 trained centroids (constant ~64-vector
    * cells — candidates Θ(1) per query) with the [[twoLevelRanked]]
    * coarse→fine assignment (the r9 flat n×k pass was Θ(n²/64) with a
    * Θ(n) broadcast — the round-9 perf-weak finding; the r10 √n-cells
    * interlude fixed the assignment but made candidates Θ(√n)/query,
    * measured unrunnable at 100× — see the BASELINE.md round-10
    * section for both measurements). Per-vector work is now
    * 2√(cprobe·k) = Θ(√n) assignment + nprobe·64 = Θ(1) candidates;
    * the widest broadcast is the Θ(√n) super-centroid frame, and the
    * k-sized centroid frames move only through hash equi-joins.
    * Deeper hierarchies generalize the same pass (L levels →
    * Θ(n^(1/L)·L) per-vector assignment, log-depth → Θ(log n)); L = 2
    * is shipped because the DuckDB oracle mirrors a fixed depth.
    * (nprobe=20, 1 hop, cprobe=12) holds mutual-edge recall
    * 0.848/0.850 at the sf0.01/sf0.1 gates (sweep tables in BASELINE.md
    * "Round-10: hierarchical-assignment IVF"; cprobe is the knob that
    * matters under constant
    * cells — it sets the √(cprobe/k) reachable-cell fraction at
    * small k, while a second NN-descent hop measured ~4× the wall
    * for LESS recall than cprobe 8→12).
    * Production re-tunes nprobe on a sample against its recall SLA,
    * the standard IVF nlist/nprobe knob; the r9 sweep also recorded
    * sign-LSH multiprobe at only 0.22 recall at equal candidate
    * budget — the corpus's near-dup band sits at cosine ≈0.4-0.5
    * where single-table LSH collision rates collapse, exactly why
    * IVF is the right coarse quantizer here. */
  private def annKnn(emb: org.apache.spark.sql.DataFrame,
      nprobe: Int = 20, hops: Int = 1, cprobe: Int = 12)
      : org.apache.spark.sql.DataFrame = {
    // CONSTANT-size cells (k = n/64): the per-query candidate scan is
    // nprobe·(n/k) = nprobe·64 — a constant — so the corpus-wide
    // candidate join stays Θ(n). The r10 interlude tried k = √n
    // (cells of √n): its per-query scan is nprobe·√n, which measured
    // ×97/decade shuffle growth at 10× and made the 100× point
    // unrunnable (1.78G candidate pairs vs 102M here) — cell SIZE,
    // not cell COUNT, is what must stay constant for a full-graph
    // build. The r9 problem with k = n/64 was never the candidates;
    // it was the FLAT n×k assignment — fixed below by the two-level
    // pass. kc = √(cprobe·k) balances the two assignment legs
    // (kc supers + cprobe·k/kc members) at 2√(cprobe·k) ≈ Θ(√n)
    // per-vector — exactly the per-vector bound the r9 verdict asked
    // of the fix, with candidates now O(1)/vector instead of O(√n).
    val n = emb.count()
    val k = math.max(32L, n / 64L).toInt
    val kc = math.max(4, math.ceil(math.sqrt(cprobe.toDouble * k)).toInt)
    val cents1 = ckpt(annCentroids(emb, k, kc, cprobe))
    // ONE ranked pass serves both the cell assignment (rank 1) and
    // the nprobe probe set (rank ≤ nprobe); the oracle's `ranked`
    // CTE makes the same sharing.
    val lv = rankLevels(emb.sparkSession, k.toLong)
    val ranked = ckpt(
      if (lv <= 2) twoLevelRanked(emb, cents1, kc, cprobe, nprobe)
      else hierRanked(emb, cents1, k.toLong, cprobe, nprobe, lv))
    val cellsNarrow = ranked.filter(col("crn") === 1)
      .select(col("vec_id").as("nid"), col("cid").as("cell"))
    val qprobe = ranked
      .select(col("vec_id").as("qid"), col("cid").as("pcell"))
    // IVF candidates are scored INSIDE the cell equi-join: vectors
    // shuffle once per probed cell (n·nprobe arrayed rows on the
    // query side, n on the member side), the per-pair cosine is
    // computed in the join stage, and only narrow (qid, nid, cosine)
    // rows ever shuffle again. The r10 interim shape — narrow
    // (qid, nid) pairs that re-attached both vectors through two
    // hash joins — shuffled a ~550 B array-carrying row PER
    // CANDIDATE PAIR, which at the 100× point (256M pairs) filled
    // the harness disk before the window even ran; per-cell vector
    // movement is the difference between shipping Θ(n·nprobe)
    // arrays and Θ(candidates) arrays across the cluster. Every
    // (qid, nid) appears exactly once (nid lives in ONE cell), so
    // no distinct is needed on the cell path.
    val qcells = qprobe.join(emb.select(col("vec_id").as("qid"),
      col("v").as("qv"), col("n2").as("qn2")), "qid")
    val ncells = cellsNarrow.join(emb.select(col("vec_id").as("nid"),
      col("v").as("nv"), col("n2").as("nn2")), "nid")
    val cosineCol =
      asDouble(dot("qv", "nv")) /
        (sqrt(asDouble(col("qn2"))) * sqrt(asDouble(col("nn2"))))
    val scored0 = qcells.join(ncells,
        col("pcell") === col("cell") && col("nid") =!= col("qid"))
      .withColumn("cosine", cosineCol)
      .select("qid", "nid", "cosine")
    // pairwise scorer for the HOP candidates only (arbitrary pairs
    // carry no cell structure; their volume is n·(64+16²)-bounded,
    // so the array-carrying join stays linear and small)
    def scoredPairs(cand: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = cand
      .join(emb.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2")), "qid")
      .join(emb.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("n2").as("nn2")), "nid")
      .withColumn("cosine", cosineCol)
      .select("qid", "nid", "cosine")
    // NN-descent hops (Dong et al. 2011), iterated `hops` times: my
    // provisional top-8 neighbors' neighbors — and vectors sharing a
    // provisional neighbor with me — join the candidate set. Two
    // equi-joins on an n×8-bounded frame per hop (linear,
    // scale-safe); each iteration converges the candidate graph
    // toward the true kNN graph INDEPENDENT of the coarse quantizer's
    // probe fraction, which is exactly what holds recall as n grows
    // past the probed nprobe·64 window (BASELINE.md "Round-10: ANN
    // recall with the constant-cell policy ENGAGED").
    // Reverse-neighbor sample (the NN-descent sample-rate knob): the
    // shared-neighbor join's output is Σ in-degree² — quadratic under
    // hub skew; capping each vector's reverse list at 16 (ordered by
    // qid, deterministic) bounds it at n·16² with NO recall loss on
    // the measured gate (0.8136 capped@16 == uncapped; 0.73 @8).
    // Scoring is INCREMENTAL across hops: hop-new pairs are
    // anti-joined against the already-scored set and only they pass
    // through the pairwise scorer; the union IS the scored candidate
    // set (cosine is deterministic per pair, so the union equals a
    // flat re-score of the distinct union — the set the oracle
    // computes). r9 measured the incremental variant worse and chose
    // the flat re-score, but that comparison was between two
    // PAIRWISE-scoring plans; with cand0 on the per-cell path, a
    // flat re-score would push the full candidate volume back
    // through the array-carrying pairwise join — the exact shuffle
    // the cell path exists to avoid.
    val w8 = Window.partitionBy("qid").orderBy(desc("cosine"), col("nid"))
    val wr = Window.partitionBy("nid").orderBy("qid")
    def top8(sc: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = sc
      .withColumn("rn", row_number().over(w8)).filter(col("rn") <= 8)
      .select("qid", "nid")
    def hopExpand(kcur: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val hopFwd = kcur.alias("a").join(kcur.alias("b"),
          col("a.nid") === col("b.qid") && col("b.nid") =!= col("a.qid"))
        .select(col("a.qid").as("qid"), col("b.nid").as("nid"))
      val kr = kcur.withColumn("rr", row_number().over(wr))
        .filter(col("rr") <= 16).select("qid", "nid")
      val hopShare = kr.alias("a").join(kr.alias("b"),
          col("a.nid") === col("b.nid") && col("b.qid") =!= col("a.qid"))
        .select(col("a.qid").as("qid"), col("b.qid").as("nid"))
      hopFwd.unionByName(hopShare)
    }
    var scoredAll = ckpt(scored0)
    var kcur = ckpt(top8(scoredAll)) // consumed by 3 hop sides
    var h = 0
    while (h < hops) {
      val fresh = hopExpand(kcur).distinct()
        .join(scoredAll.select("qid", "nid"), Seq("qid", "nid"),
          "left_anti")
      scoredAll = ckpt(
        scoredAll.unionByName(scoredPairs(fresh)))
      h += 1
      if (h < hops) kcur = ckpt(top8(scoredAll))
    }
    val w3 = Window.partitionBy("qid").orderBy(desc("cosine"), col("nid"))
    scoredAll
      .withColumn("rn", row_number().over(w3)).filter(col("rn") <= 3)
      .select(col("qid").as("a"), col("nid").as("b"), col("cosine"))
  }

  /** Mutual edges (u < v) from a top-k kNN frame: (a,b) kept iff the
    * reverse (b,a) is also a top-k edge and cosine ≥ 0.4. Cosine is
    * symmetric (identical integer dp/norms both ways), so thresholding
    * the forward direction thresholds the pair. */
  private def mutualEdges(knn0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // the fwd/bwd branches below each reference the FULL knn subtree;
    // without this cache the mutuality self-join computes it twice in
    // one materialization — for the exact side that is the n² scoring
    // pass run twice (the knn frame itself is only n×3 rows)
    val knn = Scope.cache(knn0)
    val fwd = knn.filter(col("a") < col("b") && col("cosine") >= 0.4)
      .select("a", "b")
    val bwd = knn.filter(col("a") > col("b"))
      .select(col("b").as("a"), col("a").as("b"))
    fwd.join(bwd, Seq("a", "b"))
      .select(col("a").as("u"), col("b").as("v"))
  }

  /** Shared tail of the mutual-kNN cluster queries: mutual filter →
    * connected components → cluster sizes. */
  private def clustersFromKnn(s: org.apache.spark.sql.SparkSession,
      dir: String, knn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nodes = t(s, dir, "embeddings").select(col("vec_id").as("doc_id"))
    val labels = ConnectedComponents.labels(nodes, mutualEdges(knn))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("vec_id")
  }

  /** Mutual-kNN semantic clustering — the graph-based variant of
    * semantic dedup (SemDeDup clusters around centroids; this builds
    * the k-NN graph and takes connected components): edge (a,b) iff
    * a is in b's top-3 AND b in a's top-3 AND cosine ≥ 0.40 (the
    * corpus's near-dup band — unthresholded mutual-3NN chains ~90%
    * of a random-ish corpus into one giant component, which is the
    * known failure mode of raw kNN-graph clustering). Components are
    * labeled by the shared large-star/small-star fixpoint.
    *
    * Scale shape: the exact all-pairs kNN side is the ORACLE-ABLE
    * baseline, bounded by the broadcastable index (same contract as
    * `s_cosine_topk`); at 100 TB the candidate generator swaps to
    * the ANN family (`s_cosine_ann_lsh`/`_ivf`/`_pq` produce the
    * same (a,b,cosine) frame from bucketed equi-joins) and the
    * mutual filter + CC stages are unchanged — they only ever see
    * the sparse edge list.
    *
    * Why there is NO incremental variant (unlike the dedup side's
    * [[graft.ops.MinhashIndexStore.ingestLabeled]]): mutual-kNN
    * edges are NOT monotone under insertion — a new vector that
    * enters some existing vector's top-3 EVICTS that vector's old
    * third neighbor, which can DELETE an existing edge and SPLIT a
    * cluster, so a shard's effect is not confined to its own
    * components and exact incremental maintenance needs per-vector
    * inverse-neighbor state with cascading re-evaluation (the
    * threshold-graph dedup edge set, by contrast, only ever GROWS,
    * which is what makes the persisted union-find exact). The
    * deployment path is the periodic re-cluster over the persisted
    * IVF candidates ([[IvfIndexStore]] amortizes the candidate side;
    * the CC is O(edges) per generation). */
  val knnClusters = QueryDef(
    "s_knn_clusters", "LLM-pipeline similarity: mutual-kNN clustering",
    "thresholded mutual 3-NN graph → connected components (semantic clusters)",
    (s, dir) => clustersFromKnn(s, dir, exactKnn(quantized(s, dir))),
    Some("""WITH RECURSIVE u AS (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      nrm AS (
        SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM u GROUP BY vec_id),
      dots AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(SUM(a.x*b.x) AS BIGINT) AS dp
        FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
        GROUP BY 1, 2),
      cos AS (
        SELECT qid, nid,
          CAST(dp AS DOUBLE) /
            (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE))) AS cosine
        FROM dots
        JOIN nrm qa ON qa.vec_id = qid JOIN nrm qb ON qb.vec_id = nid),
      knn AS (
        SELECT qid AS a, nid AS b, cosine FROM (
          SELECT qid, nid, cosine,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cosine DESC, nid) AS rn
          FROM cos) WHERE rn <= 3),
      -- MATERIALIZED: the recursive walk re-reads edges every
      -- iteration; inlining would recompute the n^2 kNN per round
      edges AS MATERIALIZED (
        SELECT u, v FROM (
          SELECT x.a AS u, x.b AS v FROM knn x JOIN knn y
          ON x.a = y.b AND x.b = y.a
          WHERE x.a < x.b AND x.cosine >= 0.4) m
        UNION
        SELECT v, u FROM (
          SELECT x.a AS u, x.b AS v FROM knn x JOIN knn y
          ON x.a = y.b AND x.b = y.a
          WHERE x.a < x.b AND x.cosine >= 0.4) m2),
      walk(node, reach) AS (
        SELECT u, v FROM edges
        UNION
        SELECT wk.node, e.v FROM walk wk JOIN edges e ON wk.reach = e.u),
      lab AS (
        SELECT e2.vec_id,
          LEAST(e2.vec_id, COALESCE(MIN(wk.reach), e2.vec_id)) AS cluster_id
        FROM embeddings e2 LEFT JOIN walk wk ON wk.node = e2.vec_id
        GROUP BY e2.vec_id),
      sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
      SELECT l.vec_id, l.cluster_id, s.cluster_size
      FROM lab l JOIN sz s USING (cluster_id) ORDER BY vec_id"""))

  /** DuckDB mirror of [[annKnn]]: constant-cell trained-IVF
    * assignment (k = n//64 seeds, one integer-exact Lloyd iteration,
    * with the TWO-LEVEL coarse→fine assignment — kc = ⌈√(8k)⌉
    * super-cells, the s0/cm0/vs0 and s1/cm1/vs1 CTE chains —
    * mirroring [[twoLevelRanked]] bit-for-bit), corpus-wide nprobe=20
    * probing within the cprobe=12 probed super-cells, candidate
    * cosine, top-3, mutual ≥0.4 edges as mut_a(au, av). The oracle
    * scores candidate SETS (d0/d1 CTEs); the Spark side computes the
    * same sets per-cell + incrementally, so the mirrored object is
    * the scored set, which is identical either way. Shared by the
    * two ANN-cluster oracles. */
  private val annKnnOracleCtes = """u AS MATERIALIZED (
        SELECT vec_id, i,
          CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      nrm AS MATERIALIZED (
        SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM u GROUP BY vec_id),
      kk AS MATERIALIZED (
        SELECT GREATEST(32, COUNT(DISTINCT vec_id) // 64) AS k FROM u),
      kcc AS MATERIALIZED (
        SELECT GREATEST(4, CAST(CEIL(SQRT(CAST(12 * k AS DOUBLE)))
          AS BIGINT)) AS kc FROM kk),
      c0 AS MATERIALIZED (SELECT vec_id AS cid, i, x FROM u, kk WHERE vec_id < kk.k),
      c0n AS MATERIALIZED (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c0 GROUP BY cid),
      s0sel AS MATERIALIZED (
        SELECT cid AS sid FROM (
          SELECT cid, ROW_NUMBER() OVER (ORDER BY cid) AS srn FROM c0n), kcc
        WHERE srn <= kcc.kc),
      s0 AS MATERIALIZED (SELECT ss.sid, c.i, c.x FROM s0sel ss JOIN c0 c ON c.cid = ss.sid),
      s0n AS MATERIALIZED (SELECT sid, CAST(SUM(x*x) AS BIGINT) AS sn2 FROM s0 GROUP BY sid),
      cm0 AS MATERIALIZED (
        SELECT cid, sid FROM (
          SELECT d.cid, d.sid,
            ROW_NUMBER() OVER (PARTITION BY d.cid ORDER BY
              CAST(d.dp AS DOUBLE) /
                (sqrt(CAST(cn.cn2 AS DOUBLE)) * sqrt(CAST(sn.sn2 AS DOUBLE)))
              DESC, d.sid) AS rn
          FROM (SELECT c.cid, s.sid, CAST(SUM(c.x*s.x) AS BIGINT) AS dp
                FROM c0 c JOIN s0 s ON c.i = s.i GROUP BY c.cid, s.sid) d
          JOIN c0n cn ON cn.cid = d.cid
          JOIN s0n sn ON sn.sid = d.sid)
        WHERE rn = 1),
      vs0 AS MATERIALIZED (
        SELECT vec_id, sid FROM (
          SELECT d.vec_id, d.sid,
            ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
              CAST(d.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(sn.sn2 AS DOUBLE)))
              DESC, d.sid) AS rn
          FROM (SELECT u.vec_id, s.sid, CAST(SUM(u.x*s.x) AS BIGINT) AS dp
                FROM u JOIN s0 s ON u.i = s.i GROUP BY u.vec_id, s.sid) d
          JOIN nrm n ON n.vec_id = d.vec_id
          JOIN s0n sn ON sn.sid = d.sid)
        WHERE rn <= 12),
      a0 AS MATERIALIZED (
        SELECT vec_id, cid AS cell FROM (
          SELECT d.vec_id, d.cid,
            ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
              CAST(d.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
              DESC, d.cid) AS rn
          FROM (SELECT v.vec_id, m.cid, CAST(SUM(u.x*c.x) AS BIGINT) AS dp
                FROM vs0 v
                JOIN cm0 m ON m.sid = v.sid
                JOIN u ON u.vec_id = v.vec_id
                JOIN c0 c ON c.cid = m.cid AND c.i = u.i
                GROUP BY v.vec_id, m.cid) d
          JOIN nrm n ON n.vec_id = d.vec_id
          JOIN c0n cn ON cn.cid = d.cid)
        WHERE rn = 1),
      c1 AS MATERIALIZED (
        SELECT a0.cell AS cid, u.i,
          CAST(FLOOR(CAST(SUM(u.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
        FROM u JOIN a0 ON u.vec_id = a0.vec_id
        GROUP BY a0.cell, u.i),
      c1n AS MATERIALIZED (SELECT cid, CAST(SUM(x*x) AS BIGINT) AS cn2 FROM c1 GROUP BY cid),
      s1sel AS MATERIALIZED (
        SELECT cid AS sid FROM (
          SELECT cid, ROW_NUMBER() OVER (ORDER BY cid) AS srn FROM c1n), kcc
        WHERE srn <= kcc.kc),
      s1 AS MATERIALIZED (SELECT ss.sid, c.i, c.x FROM s1sel ss JOIN c1 c ON c.cid = ss.sid),
      s1n AS MATERIALIZED (SELECT sid, CAST(SUM(x*x) AS BIGINT) AS sn2 FROM s1 GROUP BY sid),
      cm1 AS MATERIALIZED (
        SELECT cid, sid FROM (
          SELECT d.cid, d.sid,
            ROW_NUMBER() OVER (PARTITION BY d.cid ORDER BY
              CAST(d.dp AS DOUBLE) /
                (sqrt(CAST(cn.cn2 AS DOUBLE)) * sqrt(CAST(sn.sn2 AS DOUBLE)))
              DESC, d.sid) AS rn
          FROM (SELECT c.cid, s.sid, CAST(SUM(c.x*s.x) AS BIGINT) AS dp
                FROM c1 c JOIN s1 s ON c.i = s.i GROUP BY c.cid, s.sid) d
          JOIN c1n cn ON cn.cid = d.cid
          JOIN s1n sn ON sn.sid = d.sid)
        WHERE rn = 1),
      vs1 AS MATERIALIZED (
        SELECT vec_id, sid FROM (
          SELECT d.vec_id, d.sid,
            ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
              CAST(d.dp AS DOUBLE) /
                (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(sn.sn2 AS DOUBLE)))
              DESC, d.sid) AS rn
          FROM (SELECT u.vec_id, s.sid, CAST(SUM(u.x*s.x) AS BIGINT) AS dp
                FROM u JOIN s1 s ON u.i = s.i GROUP BY u.vec_id, s.sid) d
          JOIN nrm n ON n.vec_id = d.vec_id
          JOIN s1n sn ON sn.sid = d.sid)
        WHERE rn <= 12),
      ranked AS MATERIALIZED (
        SELECT d.vec_id, d.cid,
          ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
            CAST(d.dp AS DOUBLE) /
              (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE)))
            DESC, d.cid) AS rn
        FROM (SELECT v.vec_id, m.cid, CAST(SUM(u.x*c.x) AS BIGINT) AS dp
              FROM vs1 v
              JOIN cm1 m ON m.sid = v.sid
              JOIN u ON u.vec_id = v.vec_id
              JOIN c1 c ON c.cid = m.cid AND c.i = u.i
              GROUP BY v.vec_id, m.cid) d
        JOIN nrm n ON n.vec_id = d.vec_id
        JOIN c1n cn ON cn.cid = d.cid),
      cells AS MATERIALIZED (SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1),
      qprobe AS MATERIALIZED (SELECT vec_id AS qid, cid AS pcell FROM ranked WHERE rn <= 20),
      cand0 AS MATERIALIZED (
        SELECT q.qid, c.vec_id AS nid
        FROM qprobe q JOIN cells c
          ON q.pcell = c.cell AND c.vec_id <> q.qid),
      d0 AS MATERIALIZED (
        SELECT c.qid, c.nid, CAST(SUM(a.x*b2.x) AS BIGINT) AS dp
        FROM cand0 c
        JOIN u a ON a.vec_id = c.qid
        JOIN u b2 ON b2.vec_id = c.nid AND b2.i = a.i
        GROUP BY c.qid, c.nid),
      k0 AS MATERIALIZED (
        SELECT qid, nid FROM (
          SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
              CAST(dp AS DOUBLE) /
                (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE)))
              DESC, nid) AS rn
          FROM d0
          JOIN nrm qa ON qa.vec_id = qid JOIN nrm qb ON qb.vec_id = nid)
        WHERE rn <= 8),
      k0r AS MATERIALIZED (
        SELECT qid, nid FROM (
          SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY nid ORDER BY qid) AS rr
          FROM k0) WHERE rr <= 16),
      cand AS MATERIALIZED (
        SELECT DISTINCT qid, nid FROM (
          SELECT qid, nid FROM cand0
          UNION ALL
          SELECT a.qid, b.nid FROM k0 a JOIN k0 b
            ON a.nid = b.qid AND b.nid <> a.qid
          UNION ALL
          SELECT a.qid, b.qid AS nid FROM k0r a JOIN k0r b
            ON a.nid = b.nid AND b.qid <> a.qid)),
      dots_a AS MATERIALIZED (
        SELECT c.qid, c.nid, CAST(SUM(a.x*b2.x) AS BIGINT) AS dp
        FROM cand c
        JOIN u a ON a.vec_id = c.qid
        JOIN u b2 ON b2.vec_id = c.nid AND b2.i = a.i
        GROUP BY c.qid, c.nid),
      cos_a AS MATERIALIZED (
        SELECT qid, nid,
          CAST(dp AS DOUBLE) /
            (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE))) AS cosine
        FROM dots_a
        JOIN nrm qa ON qa.vec_id = qid JOIN nrm qb ON qb.vec_id = nid),
      knn_a AS MATERIALIZED (
        SELECT qid AS a, nid AS b, cosine FROM (
          SELECT qid, nid, cosine,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cosine DESC, nid) AS rn
          FROM cos_a) WHERE rn <= 3),
      mut_a AS MATERIALIZED (
        SELECT x.a AS au, x.b AS av FROM knn_a x JOIN knn_a y
        ON x.a = y.b AND x.b = y.a
        WHERE x.a < x.b AND x.cosine >= 0.4)"""

  /** The 100 TB path of [[knnClusters]] as an executable, oracled
    * query (not documentation): the SAME mutual-filter + shared-CC
    * tail, but candidates from the corpus-wide trained-IVF generator
    * instead of the all-pairs broadcast — every stage a broadcast
    * assignment or equi-join, nothing quadratic. The DuckDB oracle
    * mirrors the ANN candidate generation exactly, so the gate checks
    * the pipeline bit-for-bit; fidelity to the EXACT graph is
    * measured separately by [[knnAnnRecall]]. */
  val knnClustersAnn = QueryDef(
    "s_knn_clusters_ann",
    "LLM-pipeline similarity: mutual-kNN clustering (ANN candidates)",
    "LSH-multiprobe candidate 3-NN → mutual ≥0.4 → connected components",
    (s, dir) =>
      clustersFromKnn(s, dir, annKnn(Scope.cache(quantized(s, dir)))),
    Some(s"""WITH RECURSIVE $annKnnOracleCtes,
      edges AS MATERIALIZED (
        SELECT au AS u, av AS v FROM mut_a
        UNION
        SELECT av AS u, au AS v FROM mut_a),
      walk(node, reach) AS (
        SELECT u, v FROM edges
        UNION
        SELECT wk.node, e.v FROM walk wk JOIN edges e ON wk.reach = e.u),
      lab AS (
        SELECT e2.vec_id,
          LEAST(e2.vec_id, COALESCE(MIN(wk.reach), e2.vec_id)) AS cluster_id
        FROM embeddings e2 LEFT JOIN walk wk ON wk.node = e2.vec_id
        GROUP BY e2.vec_id),
      sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
      SELECT l.vec_id, l.cluster_id, s.cluster_size
      FROM lab l JOIN sz s USING (cluster_id) ORDER BY vec_id"""))

  /** Measured fidelity of the ANN candidate path against the exact
    * mutual-kNN edge set — the d_lsh_recall pattern applied to the
    * cluster graph: recall = |ann ∩ exact| / |exact| over the mutual
    * thresholded edges. The oracle computes BOTH graphs the same way,
    * so the gate verifies the measurement, and the measurement
    * documents exactly how much the bucketed generator trades for
    * its linear scaling (production tunes bits/probes until this
    * figure meets spec, on a sample). */
  val knnAnnRecall = QueryDef(
    "s_knn_ann_recall",
    "LLM-pipeline similarity: ANN cluster-edge recall gate",
    "mutual-kNN edge recall of the LSH-candidate graph vs the exact graph",
    (s, dir) => {
      // ONE scan+quantize for both graphs (this query runs the exact
      // all-pairs oracle AND the full ANN pipeline — the shared frame
      // is the difference between 2× and 1× corpus reads)
      val emb = Scope.cache(quantized(s, dir))
      // both edge frames are referenced twice below (count + overlap
      // join): cache them so each graph materializes once and the
      // overlap join compiles against two shallow in-memory scans
      // instead of two copies of the full pipeline subtree
      val exactE = Scope.cache(mutualEdges(exactKnn(emb)))
      val annE = Scope.cache(mutualEdges(annKnn(emb)))
      val nExact = exactE.agg(count(lit(1)).as("n_exact"))
      val nAnn = annE.agg(count(lit(1)).as("n_ann"))
      val nCommon = annE.join(exactE, Seq("u", "v"))
        .agg(count(lit(1)).as("n_common"))
      nExact.crossJoin(nAnn).crossJoin(nCommon)
        .select(col("n_exact"), col("n_ann"), col("n_common"),
          when(col("n_exact") === 0, lit(1.0))
            .otherwise(asDouble(col("n_common")) / asDouble(col("n_exact")))
            .as("recall"))
    },
    Some(s"""WITH $annKnnOracleCtes,
      dots_ex AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(SUM(a.x*b.x) AS BIGINT) AS dp
        FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
        GROUP BY 1, 2),
      cos_ex AS (
        SELECT qid, nid,
          CAST(dp AS DOUBLE) /
            (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE))) AS cosine
        FROM dots_ex
        JOIN nrm qa ON qa.vec_id = qid JOIN nrm qb ON qb.vec_id = nid),
      knn_ex AS (
        SELECT qid AS a, nid AS b, cosine FROM (
          SELECT qid, nid, cosine,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cosine DESC, nid) AS rn
          FROM cos_ex) WHERE rn <= 3),
      mut_ex AS (
        SELECT x.a AS eu, x.b AS ev FROM knn_ex x JOIN knn_ex y
        ON x.a = y.b AND x.b = y.a
        WHERE x.a < x.b AND x.cosine >= 0.4),
      ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM mut_ex),
      na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ann FROM mut_a),
      nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common
        FROM mut_ex JOIN mut_a ON eu = au AND ev = av)
      SELECT n_exact, n_ann, n_common,
        CASE WHEN n_exact = 0 THEN 1.0
          ELSE CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE) END
          AS recall
      FROM ne, na, nc"""))

  val defs: Seq[QueryDef] =
    Seq(bruteTopK, lshAnn, ivfAnn, filteredIvf, filteredAdaptive,
      ivfIncrement, ivfLifecycle, filteredIndex,
      ivfAppend, ivfCellStats, ivfDelete, pqLifecycle, pqResidual,
      pqCodes, filteredPq, semDedup, pqAnn, knnClusters, knnClustersAnn,
      knnAnnRecall)
}
