package graft.ops

import graft._
import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dependency-graph operators over the package dependency DAG.
  *
  * The reference catalogs direct dependency edges
  * (`DependentPackage`, packagedb/models.py:953-1008) and typed
  * source→binary relations (`PackageRelation`,
  * packagedb/models.py:1229-1268) but answers transitive questions
  * one package at a time in Python loops. At catalog scale the same
  * questions — "every package in the transitive closure of this
  * root set", "everything that would be impacted if these packages
  * changed", "how many distinct dependency paths reach this node" —
  * are level-synchronous iterative frontier joins: O(graph-diameter)
  * rounds, each one equi-join against a pre-partitioned edge frame
  * plus one dedup, with lineage truncated per round
  * (`localCheckpoint`) exactly like the connected-components
  * fixpoint in [[ConnectedComponents]]. Rounds scale with diameter,
  * not data volume, so the plan survives a 100× scale-up: each
  * round's shuffle carries only the frontier.
  *
  * The synthetic dependency DAG is derived arithmetically from part
  * keys so DuckDB derives the identical graph for the oracle:
  * package k declares dependencies on k div 2 and k div 3 (dropping
  * the duplicate when they coincide; keys 0 and 1 declare nothing).
  * Edges point to strictly smaller keys, so the graph is a DAG of
  * depth ~log2(maxKey) ≈ 11 — deep enough that the BFS genuinely
  * iterates, shallow enough that the recursive oracle terminates
  * fast.
  */
object GraphOps {

  private val MaxRounds = 64

  private def packages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(col("p_partkey").cast("long").as("k"))

  /** Direct dependency edges (src → dst), dst strictly < src. */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    val pk = packages(s, dir)
    val half = pk.filter(col("k") >= 2)
      .select(col("k").as("src"), expr("k div 2").as("dst"))
    val third = pk
      .filter(col("k") >= 3 && expr("k div 3") =!= expr("k div 2"))
      .select(col("k").as("src"), expr("k div 3").as("dst"))
    half.unionByName(third)
  }

  /** The oracle's view of the same DAG (DuckDB `//` = integer div). */
  private val EdgeSql =
    """pk AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
      |e AS (
      |  SELECT k AS src, k // 2 AS dst FROM pk WHERE k >= 2
      |  UNION ALL
      |  SELECT k, k // 3 FROM pk WHERE k >= 3 AND k // 3 <> k // 2
      |)""".stripMargin

  /** Level-synchronous BFS from `seeds` (`root`, `node`) over `e`
    * (`src` → `dst`). Returns (`root`, `node`, `depth`) with the
    * MINIMUM depth per pair; seeds sit at depth 0.
    *
    * Per round: join the frontier to the edge frame on node=src,
    * drop pairs already visited (a left-anti join — in
    * level-synchronous BFS the first touch IS the minimum depth, so
    * no min-merge is needed), checkpoint the new frontier to keep
    * the plan flat. The edge frame is hash-partitioned on the join
    * key ONCE and reused by every round, so per-round cost is one
    * frontier-sized shuffle + the co-located join; `visited` is a
    * union of already-checkpointed level frames (flat lineage
    * without re-materializing the accumulated set each round).
    */
  private[ops] def bfs(seeds: DataFrame, e: DataFrame): DataFrame = {
    val ckptN = org.apache.spark.sql.GraftBridge.localCheckpointWithCount _
    val ed = e.repartition(col("src")).localCheckpoint(true)
    // the eager checkpoint's own materialization count doubles as the
    // drain check — the per-round `frontier.isEmpty` job is gone
    // (GraftBridge.localCheckpointWithCount)
    var (frontier, fcnt) = ckptN(seeds.select(col("root"), col("node"))
      .withColumn("depth", lit(0L)))
    var visited = frontier
    var rounds = 0
    while (fcnt > 0 && rounds < MaxRounds) {
      // level-synchronous BFS gives every round-r frontier row the
      // SAME depth r+1, so the depth column attaches as a literal
      // AFTER the dedup — the distinct then groups on exactly the
      // anti-join key (root, node) and the two operators share ONE
      // exchange instead of exchanging on (root, node, depth) and
      // again on (root, node)
      val step = ckptN(frontier.join(ed, frontier("node") === ed("src"))
        .select(col("root"), col("dst").as("node"))
        .distinct()
        .join(visited, Seq("root", "node"), "left_anti")
        .withColumn("depth", lit(rounds + 1L)))
      frontier = step._1
      fcnt = step._2
      visited = visited.unionByName(frontier)
      rounds += 1
    }
    if (fcnt > 0)
      throw new IllegalStateException(
        s"BFS did not drain in $MaxRounds rounds — cycle or " +
          "unexpectedly deep graph; refusing to return a partial closure")
    visited
  }

  /** Transitive dependency closure of a root cohort, with BFS depth. */
  val depClosure = QueryDef(
    "g_dep_closure",
    "J1-iterative over DependentPackage edges (packagedb/models.py:953-1008)",
    "transitive dependency closure of a root set with minimum depth (frontier BFS)",
    (s, dir) => {
      val pk = packages(s, dir)
      val seeds = pk.filter(col("k") % 97 === 0)
        .select(col("k").as("root"), col("k").as("node"))
      bfs(seeds, edges(s, dir))
        .filter(col("depth") > 0)
        .select(col("root"), col("node").as("dep"), col("depth"))
        .orderBy("root", "dep")
    },
    Some(s"""WITH RECURSIVE $EdgeSql,
      |reach(root, node, depth) AS (
      |  SELECT k, k, 0 FROM pk WHERE k % 97 = 0
      |  UNION
      |  SELECT r.root, e.dst, r.depth + 1 FROM reach r JOIN e ON e.src = r.node
      |)
      |SELECT root, node AS dep, CAST(MIN(depth) AS BIGINT) AS depth
      |FROM reach WHERE depth > 0 GROUP BY root, node
      |ORDER BY root, dep""".stripMargin))

  /** Reverse-closure impact analysis: for each target, how many
    * packages transitively depend on it and how deep the impact
    * chain runs. Targets with no dependents report 0 (the catalog
    * answer "safe to change"). */
  val revDeps = QueryDef(
    "g_rev_deps",
    "J12-iterative over PackageRelation/DependentPackage reverse edges " +
      "(packagedb/models.py:1229-1268)",
    "reverse dependency fan-in per target (who breaks if this changes)",
    (s, dir) => {
      val pk = packages(s, dir)
      val targets = pk.filter(col("k") % 89 === 0)
        .select(col("k").as("root"), col("k").as("node"))
      val rev = edges(s, dir)
        .select(col("dst").as("src"), col("src").as("dst"))
      val closure = bfs(targets, rev).filter(col("depth") > 0)
        .groupBy(col("root"))
        .agg(count(lit(1)).as("n_dependents"),
          max(col("depth")).as("max_depth"))
      val tg = targets.select(col("root").as("target"))
      tg.join(closure, tg("target") === closure("root"), "left")
        .select(col("target"),
          coalesce(col("n_dependents"), lit(0L)).as("n_dependents"),
          coalesce(col("max_depth"), lit(0L)).as("max_depth"))
        .orderBy("target")
    },
    Some(s"""WITH RECURSIVE $EdgeSql,
      |reach(root, node, depth) AS (
      |  SELECT k, k, 0 FROM pk WHERE k % 89 = 0
      |  UNION
      |  SELECT r.root, e.src, r.depth + 1 FROM reach r JOIN e ON e.dst = r.node
      |),
      |per_pair AS (
      |  SELECT root, node, MIN(depth) AS d FROM reach WHERE depth > 0
      |  GROUP BY root, node
      |)
      |SELECT t.k AS target,
      |       COALESCE(p.n, 0) AS n_dependents,
      |       COALESCE(p.md, 0) AS max_depth
      |FROM (SELECT k FROM pk WHERE k % 89 = 0) t
      |LEFT JOIN (SELECT root, COUNT(*) AS n, MAX(d) AS md
      |           FROM per_pair GROUP BY root) p ON p.root = t.k
      |ORDER BY target""".stripMargin))

  private val PathDepthCap = 6

  /** Bounded-depth distinct dependency-path counting: how many
    * distinct declaration chains of length ≤ 6 lead from a root to
    * each dependency. Unlike the closure (a set), path counts
    * multiply along the DAG, so the iteration aggregates per level —
    * frontier carries (root, node, n_paths) and each round is
    * join + groupBy-sum. Exact integers end to end. */
  val depPaths = QueryDef(
    "g_dep_paths",
    "A1-iterative path aggregation over DependentPackage edges",
    s"distinct dependency paths (length ≤ $PathDepthCap) per (root, dep)",
    (s, dir) => {
      val pk = packages(s, dir)
      val ed = edges(s, dir).repartition(col("src")).localCheckpoint(true)
      var level = pk.filter(col("k") % 97 === 0)
        .select(col("k").as("root"), col("k").as("node"),
          lit(1L).as("n_paths"))
        .localCheckpoint(true)
      val levels = Seq.newBuilder[DataFrame]
      for (_ <- 1 to PathDepthCap) {
        level = level.join(ed, level("node") === ed("src"))
          .groupBy(col("root"), col("dst").as("node"))
          .agg(sum(col("n_paths")).as("n_paths"))
          .localCheckpoint(true)
        levels += level
      }
      levels.result().reduce(_ unionByName _)
        .groupBy(col("root"), col("node").as("dep"))
        .agg(sum(col("n_paths")).as("n_paths"))
        .orderBy("root", "dep")
    },
    Some(s"""WITH RECURSIVE $EdgeSql,
      |paths(root, node, depth) AS (
      |  SELECT k, k, 0 FROM pk WHERE k % 97 = 0
      |  UNION ALL
      |  SELECT p.root, e.dst, p.depth + 1
      |  FROM paths p JOIN e ON e.src = p.node WHERE p.depth < $PathDepthCap
      |)
      |SELECT root, node AS dep, COUNT(*) AS n_paths
      |FROM paths WHERE depth > 0 GROUP BY root, node
      |ORDER BY root, dep""".stripMargin))

  /** (src, dst, requirement, pinned) for every dependency edge —
    * shared by the pin-resolution query and the conflict detector. */
  private def pinnedEdges(s: SparkSession, dir: String): DataFrame = {
    val pk = packages(s, dir)
    val deps = edges(s, dir)
      .withColumn("lo", pmod(col("src"), lit(5)))
      .withColumn("hi", col("lo") + lit(1) + pmod(col("src"), lit(2)))
      .withColumn("requirement",
        concat(lit("vers:generic/>="), col("lo").cast("string"),
          lit(".0|<"), col("hi").cast("string"), lit(".0")))
      .select("src", "dst", "requirement")
    val versions = pk
      .select(col("k").as("dst"), explode(sequence(lit(0), lit(7))).as("j"))
      .select(col("dst"),
        concat(expr("j div 2").cast("string"), lit("."),
          pmod(col("dst") + col("j"), lit(10)).cast("string"))
          .as("version"))
    val fns = graft.functions.GraftFunctions
    val resolved = deps.join(versions, "dst")
      .filter(coalesce(
        fns.vers_contains(col("requirement"), col("version")), lit(false)))
      .groupBy("src", "dst", "requirement")
      .agg(max_by(col("version"), fns.natver_key(col("version")))
        .as("pinned"))
    deps.join(resolved, Seq("src", "dst", "requirement"), "left")
      .select(col("src"), col("dst"), col("requirement"), col("pinned"))
  }

  /** Dependency pinning — the resolution step the reference leaves to
    * clients: every `DependentPackage` row carries an
    * `extracted_requirement` vers range
    * (packagedb/models.py:966-980); resolving it means picking the
    * LATEST available version of the dependency that satisfies the
    * range, or none. Expressed as: requirement frame ⋈ available
    * versions on the dependency key, range membership via the
    * `VersContains` Catalyst expression (codegen, no UDF), then
    * `max_by` on the `NatVersionKey` sortable key (the O3 natural
    * version order), left-joined back so unresolvable requirements
    * surface as NULL pins rather than vanishing. One equi-join + one
    * partial-aggregated groupBy — both hash-partition on the
    * dependency key at scale.
    *
    * Synthetic shape both engines derive identically: dependency dst
    * offers versions "(j div 2).((dst+j) mod 10)" for j ∈ [0,8)
    * (majors 0..3, two minors each); edge src requires
    * `vers:generic/>=L.0|<H.0` with L = src mod 5, H = L+1+(src mod
    * 2) — L=4 rows are unsatisfiable and pin NULL. */
  val resolvePins = QueryDef(
    "g_resolve_pins",
    "F15/A7/O3 over DependentPackage.extracted_requirement " +
      "(packagedb/models.py:966-980)",
    "resolve each dependency's vers range to the latest satisfying version",
    (s, dir) => pinnedEdges(s, dir).orderBy("src", "dst"),
    Some(s"""WITH $EdgeSql,
      |d AS (SELECT src, dst, src % 5 AS lo, src % 5 + 1 + src % 2 AS hi
      |      FROM e)
      |SELECT src, dst,
      |  'vers:generic/>=' || CAST(lo AS VARCHAR) || '.0|<' ||
      |    CAST(hi AS VARCHAR) || '.0' AS requirement,
      |  CASE WHEN lo <= 3 THEN
      |    CAST(LEAST(hi - 1, 3) AS VARCHAR) || '.' ||
      |    CAST(GREATEST((dst + 2 * LEAST(hi - 1, 3)) % 10,
      |                  (dst + 2 * LEAST(hi - 1, 3) + 1) % 10) AS VARCHAR)
      |  END AS pinned
      |FROM d ORDER BY src, dst""".stripMargin))

  /** Parallel build schedule — topological layering of the dependency
    * DAG: layer(n) = length of the longest dependency chain beneath n
    * (sinks at 0), so every package in layer k can build concurrently
    * once layers < k are done. The rebuild-the-world question
    * (packagedb's PackageRelation/DependentPackage graph) asked as a
    * whole-catalog plan instead of per-package walks.
    *
    * Iteration is Bellman-Ford max-propagation: each round joins the
    * current layer frame to the reversed edge frame and takes the
    * per-node MAX; layers only ever increase and are bounded by the
    * DAG depth, so the exact (count, sum) signature is stable IFF the
    * fixpoint is reached — monotonicity makes the cheap check exact,
    * no hash screen needed. O(depth) rounds of one equi-join + one
    * partial-aggregated groupBy; the edge frame partitions once. A
    * cycle would keep layers climbing forever, so non-convergence
    * within MaxRounds throws rather than emitting a bogus schedule. */
  val topoOrder = QueryDef(
    "g_topo_order",
    "W1-iterative longest-chain layering over DependentPackage edges",
    "parallel build layers: longest dependency chain beneath each package",
    (s, dir) => {
      val pk = packages(s, dir)
      // the (count, sum(layer)) convergence signature folds into the
      // checkpoint's own materializing pass (the BFS drain-fold
      // pattern, GraftBridge) — one job per round instead of a
      // checkpoint job plus a separate aggregate job; `layer` is
      // ordinal 1 of the (node, layer) frame
      val ckptS =
        org.apache.spark.sql.GraftBridge.localCheckpointWithCountSum _
      val ed = edges(s, dir)
        .select(col("dst").as("node"), col("src").as("up"))
        .repartition(col("node")).localCheckpoint(true)
      var (lay, cnt0, sum0) = ckptS(
        pk.select(col("k").as("node"), lit(0L).as("layer")), 1)
      var prev = (cnt0, sum0)
      var converged = false
      var rounds = 0
      while (!converged && rounds < MaxRounds) {
        val bumped = ed.join(lay, "node")
          .groupBy(col("up").as("node"))
          .agg((max(col("layer")) + 1L).as("cand"))
        val step = ckptS(lay.join(bumped, Seq("node"), "left")
          .select(col("node"),
            greatest(col("layer"), coalesce(col("cand"), lit(0L)))
              .as("layer")), 1)
        lay = step._1
        val cur = (step._2, step._3)
        converged = cur == prev
        prev = cur
        rounds += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"layering did not converge in $MaxRounds rounds — cycle in " +
            "the dependency graph")
      lay.select(col("node").as("pkg"), col("layer"))
        .orderBy("layer", "pkg")
    },
    Some(s"""WITH RECURSIVE $EdgeSql,
      |down(node, d) AS (
      |  SELECT k, 0 FROM pk
      |  WHERE k NOT IN (SELECT src FROM e)
      |  UNION
      |  SELECT e.src, dn.d + 1 FROM down dn JOIN e ON e.dst = dn.node
      |)
      |SELECT node AS pkg, CAST(MAX(d) AS BIGINT) AS layer
      |FROM down GROUP BY node
      |ORDER BY layer, pkg""".stripMargin))

  /** Dependency importance — PageRank over the dependency DAG, with
    * importance flowing along declared edges (a package is important
    * when important packages depend on it — the foundational-library
    * signal rank_packages (A5) approximates with raw in-degree).
    *
    * Engine-exact by construction: scores live in integer micro-units
    * (start 100_000), each contribution is `score div outdeg` and
    * each update `15_000 + (17 * Σcontrib) div 20` — integer ops that
    * DuckDB mirrors operator-for-operator, so three unrolled
    * iterations stay bit-identical with no float accumulation. Each
    * iteration is one equi-join against the once-partitioned edge
    * frame + one partial-aggregated groupBy; iterations are fixed
    * (3), not data-dependent, so the plan is a static 3-stage
    * pipeline at any scale. */
  val pageRank = QueryDef(
    "g_pagerank",
    "A5-iterative importance over DependentPackage edges",
    "3-iteration integer-exact PageRank: importance flows to dependencies",
    (s, dir) => {
      val pk = packages(s, dir)
      val e = edges(s, dir)
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val ed = e.join(outdeg, "src")
        .select(col("src"), col("dst"), col("outdeg"))
        .repartition(col("src")).localCheckpoint(true)
      var pr = pk.select(col("k").as("node"), lit(100000L).as("score"))
      for (_ <- 1 to 3) {
        val contrib = ed.join(pr, ed("src") === pr("node"))
          .select(col("dst"), expr("score div outdeg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("sc"))
        val nodes = pk.select(col("k").as("node"))
        pr = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
          .select(col("node"),
            (lit(15000L) + expr("17L * coalesce(sc, 0L) div 20"))
              .as("score"))
          .localCheckpoint(true)
      }
      pr.select(col("node").as("pkg"), col("score").as("pr_u"))
        .orderBy(desc("pr_u"), col("pkg"))
    },
    Some(s"""WITH $EdgeSql,
      |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      |ew AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
      |p0 AS (SELECT k AS node, CAST(100000 AS BIGINT) AS score FROM pk),
      |c1 AS (SELECT ew.dst, SUM(p0.score // ew.outdeg) AS sc
      |       FROM ew JOIN p0 ON p0.node = ew.src GROUP BY ew.dst),
      |p1 AS (SELECT pk.k AS node,
      |         15000 + (17 * COALESCE(c1.sc, 0)) // 20 AS score
      |       FROM pk LEFT JOIN c1 ON c1.dst = pk.k),
      |c2 AS (SELECT ew.dst, SUM(p1.score // ew.outdeg) AS sc
      |       FROM ew JOIN p1 ON p1.node = ew.src GROUP BY ew.dst),
      |p2 AS (SELECT pk.k AS node,
      |         15000 + (17 * COALESCE(c2.sc, 0)) // 20 AS score
      |       FROM pk LEFT JOIN c2 ON c2.dst = pk.k),
      |c3 AS (SELECT ew.dst, SUM(p2.score // ew.outdeg) AS sc
      |       FROM ew JOIN p2 ON p2.node = ew.src GROUP BY ew.dst),
      |p3 AS (SELECT pk.k AS node,
      |         CAST(15000 + (17 * COALESCE(c3.sc, 0)) // 20 AS BIGINT)
      |           AS score
      |       FROM pk LEFT JOIN c3 ON c3.dst = pk.k)
      |SELECT node AS pkg, score AS pr_u FROM p3
      |ORDER BY pr_u DESC, pkg""".stripMargin))

  /** Diamond version conflicts — the question dependency resolvers
    * exist to answer: within one root's transitive closure, is any
    * dependency pinned to TWO OR MORE different versions by
    * different parents? (npm hoists, maven nearest-wins, cargo
    * unifies — all of them need this set first.) Composition of the
    * closure BFS and the pin frame: reach ⋈ pinned-edges on the
    * parent, grouped per (root, dep), kept where the distinct
    * non-null pin count exceeds one; unresolved (NULL-pin) edges
    * are surfaced alongside. */
  val versionConflicts = QueryDef(
    "g_version_conflicts",
    "J1-iterative + F15/A3 over the closure (diamond dependency conflicts)",
    "deps pinned to ≥2 distinct versions inside a root's transitive closure",
    (s, dir) => {
      val pk = packages(s, dir)
      val seeds = pk.filter(col("k") % 97 === 0)
        .select(col("k").as("root"), col("k").as("node"))
      // the pin frame is independent of the closure: warm its cache
      // on a background thread while the BFS loop blocks the driver
      // (guide §2.6 inside one query) — the final join then reads a
      // warm cache instead of paying the vers-resolution subplan
      // after the loop
      val pins = Scope.cache(pinnedEdges(s, dir))
      val warm = Scope.fork(s, "pins:prefetch")(pins.count())
      val reach = bfs(seeds, edges(s, dir))
      warm()
      reach.join(pins, reach("node") === pins("src"))
        .groupBy(col("root"), col("dst").as("dep"))
        .agg(count(lit(1)).as("n_edges"),
          countDistinct(col("pinned")).as("n_pins"),
          sum(when(col("pinned").isNull, 1L).otherwise(0L))
            .as("n_unresolved"))
        .filter(col("n_pins") > 1)
        .orderBy("root", "dep")
    },
    Some(s"""WITH RECURSIVE $EdgeSql,
      |reach(root, node) AS (
      |  SELECT k, k FROM pk WHERE k % 97 = 0
      |  UNION
      |  SELECT r.root, e.dst FROM reach r JOIN e ON e.src = r.node
      |),
      |d AS (SELECT src, dst, src % 5 AS lo, src % 5 + 1 + src % 2 AS hi
      |      FROM e),
      |pins AS (
      |  SELECT src, dst,
      |    CASE WHEN lo <= 3 THEN
      |      CAST(LEAST(hi - 1, 3) AS VARCHAR) || '.' ||
      |      CAST(GREATEST((dst + 2 * LEAST(hi - 1, 3)) % 10,
      |                    (dst + 2 * LEAST(hi - 1, 3) + 1) % 10) AS VARCHAR)
      |    END AS pinned
      |  FROM d)
      |SELECT r.root, p.dst AS dep, COUNT(*) AS n_edges,
      |  COUNT(DISTINCT p.pinned) AS n_pins,
      |  CAST(SUM(CASE WHEN p.pinned IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unresolved
      |FROM reach r JOIN pins p ON p.src = r.node
      |GROUP BY r.root, p.dst
      |HAVING COUNT(DISTINCT p.pinned) > 1
      |ORDER BY root, dep""".stripMargin))

  val defs: Seq[QueryDef] =
    Seq(depClosure, revDeps, depPaths, resolvePins, topoOrder, pageRank,
      versionConflicts)
}
