package graft

import graft.ops.DedupOps

/** The non-1.0 recall path of the LSH gate (`DedupOps.lshRecall`
  * documents why the driver oracle only ever sees 1.0): a seeded
  * corpus of document pairs with exact Jaccard in [0.5, 0.6) — where
  * the 8×4 band-hit probability 1-(1-J^4)^8 is ≈ 0.43-0.59, i.e.
  * band misses are EXPECTED — measured against the analytic bound.
  *
  * Corpus construction: pair i shares a k-token prefix between its
  * two 42-token documents, all tokens unique to the pair, so the
  * 3-token shingle sets overlap in exactly c = k-2 shingles of 40
  * per side → J = c/(80-c) exactly; k ∈ {29,30,31} → J ∈
  * {0.509, 0.538, 0.569}. Cross-pair Jaccard is 0 by construction.
  */
class LshRecallSpec extends SparkTestBase {
  import spark.implicits._

  private val M = 42 // tokens per doc → 40 shingles
  private val NPairs = 80

  private def corpus = (0 until NPairs).map { i =>
    val k = 29 + (i % 3)
    val a = (1 to M).map(j => s"p${i}a$j")
    val b = a.take(k) ++ (1 to (M - k)).map(j => s"p${i}b$j")
    (i, a, b, k)
  }

  test("measured LSH recall on a borderline corpus tracks 1-(1-J^4)^8") {
    val docs = corpus.flatMap { case (i, a, b, _) =>
      Seq((2L * i, a.mkString(" ")), (2L * i + 1, b.mkString(" ")))
    }.toDF("doc_id", "text")
    val shingled = DedupOps.shingleDocs(docs).cache()

    // exact side: every seeded pair qualifies, at its constructed J
    val exactRows = shingled.transform(DedupOps.exactJaccardPairs(_))
      .select("d1", "d2", "jaccard").collect()
    assert(exactRows.length == NPairs,
      s"expected $NPairs exact pairs, got ${exactRows.length}")
    exactRows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j < 0.6, s"pair J=$j escaped the target band")
    }

    // LSH side: some pairs MUST be band-missed at these J values
    val nLsh = DedupOps.lshVerifiedPairs(shingled).count()
    val recall = nLsh.toDouble / NPairs
    val analytic = corpus.map { case (_, _, _, k) =>
      val c = (k - 2).toDouble
      val j = c / (2 * (M - 2) - c)
      1 - math.pow(1 - math.pow(j, 4), 8)
    }.sum / NPairs
    // a genuine measurement: neither total nor empty…
    assert(recall > 0.2 && recall < 0.85,
      s"recall=$recall is not a borderline measurement")
    // …and within sampling distance of the analytic expectation
    // (80 pairs → binomial σ ≈ 0.056; 0.25 is > 4σ)
    assert(math.abs(recall - analytic) < 0.25,
      s"measured recall=$recall vs analytic=$analytic")
  }

  test("ANN auto-depth picks L from the centroid count: L=2 through " +
      "every oracle/ScaleBench scale, deeper only past the per-level " +
      "budget (round-10 verdict: a 100 TB corpus must raise its own " +
      "depth)") {
    import graft.ops.SimilarityOps.autoLevels
    // oracle scales: sf0.01 → k=32, sf0.1 → k=32 (n=2000 sits at the
    // cell floor); the 100× Harness scale point → n=200,000 →
    // k=3,125 — all L=2, so the pinned plans and recall gates are
    // untouched by the auto rule
    assert(autoLevels(32) == 2)
    assert(autoLevels(78) == 2)
    assert(autoLevels(3125) == 2)
    assert(autoLevels(4096) == 2)
    // 10⁹ vectors → k ≈ 1.6e7 centroids: one more level caps the
    // per-level frame at ~(cprobe·k)^(1/3) rows/vector
    assert(autoLevels(4097) == 3)
    assert(autoLevels(16L * 1000 * 1000) == 3)
    // 4096² < k: depth 4
    assert(autoLevels(20L * 1000 * 1000 * 1000) == 4)
  }
}
