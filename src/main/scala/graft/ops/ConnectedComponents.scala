package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star /
  * small-star (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC 2014). Each round is two rounds of (groupBy-min +
  * equi-join on the node id) — the same shuffle shape as naive
  * min-label propagation — but the label graph contracts
  * geometrically, so convergence takes O(log n) rounds instead of
  * O(component diameter): a pathological chain component of length L
  * resolves in ~log L rounds, not L.
  *
  * Convergence is detected by an edge-set fixpoint (count +
  * order-insensitive hash sum, one aggregate job per round — no
  * label-vs-label join), and non-convergence within `maxRounds`
  * THROWS rather than returning silently wrong labels.
  */
object ConnectedComponents {

  /** Per-round post-contraction edge counts of the most recent
    * `labels` call in this JVM (index 0 = deduped input edge count).
    * Measurement surface for Harness scale's round/edge telemetry only —
    * concurrent `labels` calls overwrite each other here, which is
    * fine for a single-threaded measurement harness. */
  @volatile private var lastEdgeCountsVar: Seq[Long] = Seq.empty
  def lastRunEdgeCounts: Seq[Long] = lastEdgeCountsVar

  /** Edge set signature: (count, sum of per-edge hashes). Set-equal
    * frames produce equal signatures. The dangerous failure direction
    * is a 64-bit hash-sum collision between DIFFERENT consecutive
    * edge sets: that would declare convergence PREMATURELY and return
    * labels from a non-star edge set (wrong clusters). The signature
    * is therefore only a cheap screen — the loop confirms the one
    * claimed-converged round with an exact set compare before
    * returning. */
  private def signature(e: DataFrame): (Long, String) = {
    // decimal(38,0) accumulator: a 64-bit sum would overflow under
    // ANSI mode after a few hundred max-magnitude hashes
    val r = e.agg(count(lit(1)),
      sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse(""))
  }

  /** large-star: for every node, link each strictly-larger neighbor
    * to the minimum of the closed neighborhood. Input/output edges
    * directed larger→smaller (u > v). */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val m = und.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    und.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
    // duplicates left in place: small-star's min-aggregate is
    // duplicate-insensitive and its final distinct dedups the round's
    // output — dropping the dedup here saves one shuffle per round
  }

  /** small-star: for every node, link it and all smaller neighbors to
    * the smallest of them. Keeps the larger→smaller direction. */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("u").agg(min(col("v")).as("m"))
    val j = e.join(m, "u")
    j.filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(m.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Edge-count gate below which [[labels]] resolves the component
    * structure with a single collect + driver union-find instead of
    * the distributed star rounds (see the inline comment in
    * [[labels]]); `localEdgeThreshold = 0` forces the distributed
    * path. */
  val defaultLocalEdgeThreshold: Long = 1000000L

  /** Label every node in `nodes` (single column `doc_id`, including
    * singletons) with its component minimum, from undirected `edges`
    * (columns `u`, `v`). Returns (doc_id, cluster_id). */
  def labels(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 50,
      localEdgeThreshold: Long = defaultLocalEdgeThreshold): DataFrame = {
    val sess = nodes.sparkSession
    val ePlan = edges.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
    // Size-gated LOCAL fixpoint (the broadcast-join analogy applied
    // to CC, guide §3.1/§1.2): below the threshold the whole deduped
    // edge set is collect()ed once and resolved with a driver
    // union-find — O(E α(E)) and ZERO further shuffles — replacing
    // O(log n) rounds of (2 shuffles + checkpoint + signature) jobs.
    // The result is identical by construction: union-find rooted at
    // the component minimum computes exactly the min-label fixpoint
    // the star rounds converge to. The threshold is the same kind of
    // size gate as spark.sql.autoBroadcastJoinThreshold: 1M edges is
    // ~32 MB boxed on the driver (well under maxResultSize); at
    // 100 TB the near-dup edge set exceeds it and the distributed
    // star rounds run unchanged — Harness scale's 10×/100× CC points
    // keep exercising that path via the env override.
    //
    // The size gate IS the collect: executeTake with threshold+1 as
    // the limit pulls partitions incrementally, so a small edge set
    // answers "below threshold?" and delivers the pairs in ONE job —
    // where probing a count first cost an eager checkpoint
    // materialization plus a signature aggregate before the collect
    // (3 driver round-trips per CC call, OPTIMIZATION_r13.md §13). An
    // over-threshold set stops at the first partitions that overflow
    // the limit and falls through to the distributed rounds, which
    // re-run the edge plan for the checkpoint — one partial extra
    // pass, paid only on the path whose round count dwarfs it (and
    // not at all when the env gate pins the threshold to 0).
    val localPairs =
      if (localEdgeThreshold <= 0L) None
      else {
        val cap = math.min(localEdgeThreshold, Int.MaxValue - 2L).toInt
        val rows = graft.core.labeled(sess, "cc:local-collect")(
          ePlan.limit(cap + 1).collect())
        if (rows.length <= cap) Some(rows) else None
      }
    if (localPairs.isDefined) {
      val pairs = localPairs.get
      val parent = new java.util.HashMap[Long, Long](pairs.length * 2)
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        // path compression
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      pairs.foreach { row =>
        val (ru, rv) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ru != rv) {
          // root at the MIN id — the component minimum is the label
          if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
        }
      }
      val touched = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
        pairs.length)
      val seen = new java.util.HashSet[Long](pairs.length * 2)
      pairs.foreach { row =>
        Seq(row.getLong(0), row.getLong(1)).foreach { n =>
          if (seen.add(n)) touched += ((n, find(n)))
        }
      }
      lastEdgeCountsVar = Seq(pairs.length.toLong)
      val sparkS = nodes.sparkSession
      import sparkS.implicits._
      val lbl = broadcast(
        touched.toSeq.toDF("doc_id", "root")
          .filter(col("doc_id") =!= col("root")))
      return nodes.join(lbl, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("doc_id")).as("cluster_id"))
    }
    var e = graft.core.labeled(sess, "cc:init")(
      ePlan.localCheckpoint(true))
    var sig = graft.core.labeled(sess, "cc:init-sig")(signature(e))
    var converged = false
    var rounds = 0
    val edgeCounts = Seq.newBuilder[Long]
    edgeCounts += sig._1
    while (!converged && rounds < maxRounds) {
      // localCheckpoint keeps lineage flat across rounds (iterative
      // plans otherwise re-derive every prior round per action)
      val prev = e
      e = graft.core.labeled(sess, s"cc:round-$rounds") {
        smallStar(largeStar(e)).localCheckpoint(true)
      }
      val next = graft.core.labeled(sess, s"cc:round-$rounds-sig")(
        signature(e))
      if (next == sig) {
        // signature equality is necessary but not sufficient: confirm
        // exactly on this one round. Both frames are deduped and have
        // equal counts here, so an empty except proves set equality;
        // on the (negligible-probability) collision where it is
        // non-empty, the loop simply continues iterating.
        converged = graft.core.labeled(sess, "cc:confirm")(
          e.except(prev).isEmpty)
      }
      sig = next
      edgeCounts += sig._1
      rounds += 1
    }
    lastEdgeCountsVar = edgeCounts.result()
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          s"(edge signature still moving: $sig)")
    // fixpoint of the star operations is a forest of stars whose
    // centers are the component minima: every non-root points at its
    // root directly
    nodes.join(e.select(col("u").as("doc_id"), col("v").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }
}
