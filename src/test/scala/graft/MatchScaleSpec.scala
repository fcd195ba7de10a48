package graft

import graft.matching.Matching
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The full gated `matchCodebase` lifecycle at 10× index scale: the
  * query codebase (the abbot fixture) stays fixed while every index
  * frame is replicated 10× with decoy packages whose keys are
  * re-hashed — the realistic growth direction (the PurlDB index grows,
  * a match request does not). The staged pipeline must return
  * BIT-IDENTICAL matches (decoys share no sha1, and their re-hashed
  * fingerprints sit ~64 hamming bits away, far outside every band),
  * keep its equi-join shape (no cartesian), and hold wall-clock.
  */
class MatchScaleSpec extends SparkTestBase {
  import spark.implicits._

  private val Pkg =
    "http://repo1.maven.org/maven2/abbot/abbot/0.12.3/abbot-0.12.3.jar"
  private val Extract = "abbot-0.12.3.jar-extract"

  /** Decoy sha1: same-length hex re-hash — never collides. */
  private def perturbSha1(c: Column, k: Int): Column =
    substring(sha2(concat(c, lit(s"#$k")), 256), 1, 40)

  /** Decoy halohash fingerprint: KEEP the 8-hex element-count header
    * (a realistic decoy passes the ±5% count band and must be
    * rejected by hamming, ~64 bits away on a re-hashed bah128),
    * re-hash only the 32-hex bah body. */
  private def perturbFp(c: Column, k: Int): Column =
    concat(substring(c, 1, 8),
      substring(sha2(concat(c, lit(s"#$k")), 256), 1, 32))

  private def replicate(df: DataFrame, keyCol: String, factor: Int,
      perturb: (Column, Int) => Column): DataFrame =
    (0 until factor).map { k =>
      if (k == 0) df
      else df
        .withColumn("download_url",
          concat(col("download_url"), lit(s"#$k")))
        .withColumn(keyCol, perturb(col(keyCol), k))
    }.reduce(_ unionByName _)

  private lazy val rows = AbbotFixture.rows
  private lazy val resources = rows.toDF("path", "name", "is_file", "size",
    "sha1", "dir_fingerprint", "file_fingerprint")
  private lazy val indexedDirs = Set(
      s"$Extract/junit", s"$Extract/junit/extensions",
      s"$Extract/junit/extensions/abbot",
      s"$Extract/abbot/finder", s"$Extract/abbot/finder/matchers",
      s"$Extract/abbot/script", s"$Extract/abbot/script/parsers",
      s"$Extract/abbot/tester", s"$Extract/abbot/util",
      s"$Extract/abbot/i18n")
  private lazy val exactPaths = rows.collect {
      case (p, _, true, _, Some(_), _, _)
        if p == "abbot-0.12.3.jar" ||
          p.startsWith(s"$Extract/abbot/editor/") => p
    }.toSet
  private lazy val exactIndex = rows.collect {
      case (p, _, true, _, Some(sha1), _, _) if exactPaths(p) =>
        (sha1, Pkg, p)
    }.toDF("sha1", "download_url", "path")
  private lazy val dirIndex = rows.collect {
      case (p, n, false, sz, _, Some(fp), _) if indexedDirs(p) =>
        (Pkg, p, n, sz, false, fp)
    }.toDF("download_url", "path", "name", "size", "is_file", "fingerprint")
  private lazy val fileIndex = rows.collect {
      case (p, n, true, sz, _, _, Some(fp)) => (Pkg, p, n, sz, true, fp)
    }.toDF("download_url", "path", "name", "size", "is_file", "fingerprint")
  private lazy val noSnippets = Seq.empty[(String, Array[Byte], Long)]
    .toDF("q_path", "fingerprint", "position")
  private lazy val noSnippetIndex = Seq.empty[(Array[Byte], String, String, Long)]
    .toDF("fingerprint", "download_url", "path", "position")

  /** The staged-match expectation: every exact path, every indexed
    * dir, and the two approx-file-matched leaves, all to the one
    * real package. */
  private def expectedPaths: Set[String] =
    exactPaths ++ indexedDirs ++
      Set(s"$Extract/abbot/abbot.xsd", s"$Extract/META-INF/MANIFEST.MF")

  private def run(f: Int): (Set[(String, String, String)], Double, String) = {
      val (e, d, fi) =
        if (f == 1) (exactIndex, dirIndex, fileIndex)
        else (replicate(exactIndex, "sha1", f, perturbSha1),
          replicate(dirIndex, "fingerprint", f, perturbFp),
          replicate(fileIndex, "fingerprint", f, perturbFp))
      val m = Matching.matchCodebase(resources, e, d, fi,
        noSnippets, noSnippetIndex)
      val plan = m.queryExecution.executedPlan.toString
      val t0 = System.nanoTime()
      val got = m.select("path", "download_url", "match_type")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet
      ((System.nanoTime() - t0) / 1e9, got, plan) match {
        case (dt, g, p) => (g, dt, p)
      }
    }

  // per-run shuffle-write row telemetry, read through the harness
  // listener once the async bus has drained
  private def measured(f: Int): (Set[(String, String, String)], Double,
      String, Long) = {
    val l = new Harness.Listener
    spark.sparkContext.addSparkListener(l)
    try {
      val (got, sec, plan) = run(f)
      l.drain()
      (got, sec, plan, l.totals.writeRecs)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("staged pipeline: identical matches and shape at 10x index") {
    assume(AbbotFixture.available)
    run(1); run(10) // JIT/codegen warmup
    val (base, baseSec, _) = run(1)
    val (scaled, scaledSec, plan10, shuf10) = measured(10)
    val (scaled100, scaledSec100, plan100, shuf100) = measured(100)

    // decoys contribute NOTHING: bit-identical staged output
    assert(scaled == base)
    assert(scaled100 == base)
    assert(base.map(_._1) == expectedPaths)
    assert(base.forall(_._2 == Pkg)) // never a decoy url
    // shape holds: banded equi-joins, never a cartesian, at BOTH scales
    assert(!plan10.contains("CartesianProduct"), plan10.take(1500))
    assert(!plan100.contains("CartesianProduct"), plan100.take(1500))
    info(f"matchCodebase 1x index: $baseSec%.2f s, " +
      f"10x index: $scaledSec%.2f s (ratio ${scaledSec / baseSec}%.1f, " +
      f"shuffle $shuf10 rows), " +
      f"100x index: $scaledSec100%.2f s (ratio ${scaledSec100 / baseSec}%.1f, " +
      f"shuffle $shuf100 rows)")
    // a degenerate plan (all-pairs against the index) would blow past
    // these by orders of magnitude
    assert(scaledSec < baseSec * 10 + 5.0,
      f"10x index cost $scaledSec%.2f s vs $baseSec%.2f s at 1x")
    // tripwire, not a benchmark: a quadratic candidate blowup costs
    // ≥100× base; the bound is loose enough to survive a contended
    // test host (the shuffle-growth assertion below is the sharp one)
    assert(scaledSec100 < baseSec * 50 + 30.0,
      f"100x index cost $scaledSec100%.2f s vs $baseSec%.2f s at 1x")
    // the 10x -> 100x shuffle-row growth must stay ~linear in the
    // index (the banded equi-joins shuffle the index once; a
    // candidate blowup would go quadratic here)
    assert(shuf100 < shuf10 * 15 + 100000,
      s"shuffle rows grew superlinearly: $shuf10 -> $shuf100")
  }

  test("composite pipeline past the broadcast threshold: band probes " +
      "cross to shuffled joins, matches bit-identical") {
    assume(AbbotFixture.available)
    // r9 carried this as unproven: at every measured decoy scale the
    // index sides still fit autoBroadcast, so the COMPOSITE pipeline
    // had only ever run its broadcast band. On a cluster the index is
    // the 100 TB side; force that regime by dropping the threshold
    // below the 100× index size (the isolated ApproxHammingJoin
    // proved the bucketed band join at 60M⋈15M — this pins the same
    // crossing inside the full gated pipeline).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val (base, _, _) = run(1)
    try {
      spark.conf.set(key, "1024")
      val (got, sec, plan, shuf) = measured(100)
      assert(got == base,
        "matches must be identical under the shuffled band joins")
      assert(got.map(_._1) == expectedPaths)
      assert(!plan.contains("CartesianProduct"), plan.take(1500))
      // the band probes actually crossed: at least one non-broadcast
      // join executed (SMJ or shuffled-hash), and the hamming verify
      // still bounds every probe (no all-pairs fallback)
      val smj = "SortMergeJoin".r.findAllIn(plan).size +
        "ShuffledHashJoin".r.findAllIn(plan).size
      assert(smj > 0, s"no shuffled join in the past-broadcast plan:\n" +
        plan.take(2000))
      info(f"past-broadcast 100x index: $sec%.2f s, $smj shuffled " +
        f"joins, shuffle $shuf rows")
    } finally spark.conf.set(key, saved)
  }
}
