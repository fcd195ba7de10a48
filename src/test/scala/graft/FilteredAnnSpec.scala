package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{ArtifactLog, IvfIndexStore, SimilarityOps}

/** Filtered vector search through the persisted IVF artifact: the
  * attribute sidecar ([[graft.ops.IvfIndexStore.save]]'s `attrs`)
  * roundtrips, the predicate semi-join below the distance math gives
  * exactly the in-memory filtered result, shard appends must carry
  * their sidecar rows, takedowns are invisible to filtered probes,
  * compact folds the sidecar physically, retrain leaves it untouched
  * (the vec_id-bucketing invariant), and [[IvfIndexStore.fetchAttrs]]
  * hydrates result ids bucket-pruned. The oracled end-to-end gate is
  * `s_ann_filtered_index`. */
class FilteredAnnSpec extends SparkTestBase {

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"fannspec_$tag").toString

  private def emb: DataFrame = SimilarityOps.quantized(spark, sf001)
  private def corpus: DataFrame = emb.filter(col("vec_id") % 5 =!= 0)
  private def inc: DataFrame = emb.filter(col("vec_id") % 5 === 0)
  private def allAttrs: DataFrame =
    graft.core.t(spark, sf001, "embeddings")
      .select(col("vec_id"), col("label"))
  private def corpusAttrs: DataFrame =
    allAttrs.join(corpus.select("vec_id"), Seq("vec_id"))
  private def incAttrs: DataFrame =
    allAttrs.join(inc.select("vec_id"), Seq("vec_id"))

  private def rows(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.select("qid", "nid", "cosine", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

  test("filtered shortlist on the LOADED sidecar equals the " +
      "in-memory allowed-set filter") {
    val root = freshRoot("filtered")
    IvfIndexStore.save(root, corpus, 32, attrs = Some(corpusAttrs))
    val idx = IvfIndexStore.load(spark, root)
    assert(idx.attrs.isDefined && idx.attrBuckets >= 8)
    val got = rows(IvfIndexStore.shortlist(idx, inc, nprobe = 4,
      topK = 3, pred = Some(col("label") % 2 === 0)))
    // expected: the same probe with the allowed set taken from the
    // ORIGINAL attribute frame, applied to the loaded lists directly
    // — a sidecar row lost or corrupted in the roundtrip diverges
    val allowed = corpusAttrs.filter(col("label") % 2 === 0)
      .select("vec_id")
    val expIdx = idx.copy(
      cells = idx.cells.join(allowed, Seq("vec_id"), "left_semi"),
      attrs = None)
    val exp = rows(IvfIndexStore.shortlist(expIdx, inc, nprobe = 4,
      topK = 3))
    assert(got == exp && got.nonEmpty)
    SimilarityOps.releaseCaches()
  }

  test("filtered shortlist without a sidecar throws; append must " +
      "match the head's attr flag both ways") {
    val bare = freshRoot("bare")
    IvfIndexStore.save(bare, corpus, 32)
    val idx = IvfIndexStore.load(spark, bare)
    intercept[IllegalArgumentException] {
      IvfIndexStore.shortlist(idx, inc, nprobe = 4, topK = 3,
        pred = Some(col("label") === 1))
    }
    intercept[IllegalArgumentException] {
      IvfIndexStore.append(spark, bare, inc,
        attrs = Some(incAttrs)) // unflagged index must refuse attrs
    }
    val flagged = freshRoot("flagged")
    IvfIndexStore.save(flagged, corpus, 32, attrs = Some(corpusAttrs))
    intercept[IllegalArgumentException] {
      IvfIndexStore.append(spark, flagged, inc) // sidecar-less shard
    }
    SimilarityOps.releaseCaches()
  }

  test("an appended shard's sidecar rows are visible to filtered " +
      "probes, and a takedown is invisible to them") {
    val root = freshRoot("appenddel")
    IvfIndexStore.save(root, corpus, 32, attrs = Some(corpusAttrs))
    IvfIndexStore.append(spark, root, inc, attrs = Some(incAttrs))
    val idx = IvfIndexStore.load(spark, root)
    // query vectors FROM the corpus so appended (mod-5) vectors can
    // surface as neighbors
    val queries = corpus.filter(col("vec_id") < 10)
    val got = IvfIndexStore.shortlist(idx, queries, nprobe = 4,
      topK = 10, pred = Some(col("label") % 2 === 0))
    val gotIds = got.select("nid").collect().map(_.getLong(0)).toSet
    assert(gotIds.nonEmpty)
    // every surfaced id passes the predicate (sidecar semi-join)
    val evenIds = allAttrs.filter(col("label") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotIds.subsetOf(evenIds))
    SimilarityOps.releaseCaches()

    // takedown: tombstone every currently-surfaced neighbor — the
    // filtered probe must never surface them again
    import spark.implicits._
    IvfIndexStore.delete(spark, root, gotIds.toSeq.toDF("vec_id"))
    val idx2 = IvfIndexStore.load(spark, root)
    val got2 = IvfIndexStore.shortlist(idx2, queries, nprobe = 4,
      topK = 10, pred = Some(col("label") % 2 === 0))
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(got2.intersect(gotIds).isEmpty)
    SimilarityOps.releaseCaches()

    // compact folds the sidecar: one A dir, tombstoned rows
    // physically excluded, filtered result unchanged
    IvfIndexStore.compact(spark, root)
    val (_, rec) = ArtifactLog.latest(root, "ivf")
    assert(rec.dirsOf("A").size == 1)
    val idx3 = IvfIndexStore.load(spark, root)
    val folded = spark.read.parquet(
      s"$root/data/${rec.dirsOf("A").head}")
    val foldedIds = folded.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(foldedIds.intersect(gotIds).isEmpty) // physical fold
    val got3 = rows(IvfIndexStore.shortlist(idx3, queries, nprobe = 4,
      topK = 10, pred = Some(col("label") % 2 === 0)))
    val got2full = rows(IvfIndexStore.shortlist(idx2, queries,
      nprobe = 4, topK = 10, pred = Some(col("label") % 2 === 0)))
    assert(got3 == got2full)
    SimilarityOps.releaseCaches()
  }

  test("retrain preserves the sidecar untouched (vec_id bucketing " +
      "is centroid-independent) and filtered probes keep working") {
    val root = freshRoot("retrain")
    IvfIndexStore.save(root, corpus, 32, attrs = Some(corpusAttrs))
    val (_, before) = ArtifactLog.latest(root, "ivf")
    IvfIndexStore.retrain(spark, root)
    val (_, after) = ArtifactLog.latest(root, "ivf")
    assert(after.dirsOf("A") == before.dirsOf("A")) // same files
    assert(after.kvMap("ap") == before.kvMap("ap"))
    val idx = IvfIndexStore.load(spark, root)
    val got = rows(IvfIndexStore.shortlist(idx, inc, nprobe = 4,
      topK = 3, pred = Some(col("label") % 2 === 0)))
    assert(got.nonEmpty)
    val evenIds = allAttrs.filter(col("label") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.map(_._2).subsetOf(evenIds))
    SimilarityOps.releaseCaches()
  }

  test("filtered ADC shortlist equals the manually code-filtered " +
      "probe (and refuses a sidecar-less PQ index)") {
    val root = freshRoot("fpq")
    IvfIndexStore.save(root, corpus, 32, attrs = Some(corpusAttrs),
      pq = Some(IvfIndexStore.Pq(m = 4, ksub = 16)))
    val idx = IvfIndexStore.load(spark, root)
    def adcRows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "d2", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSet
    val got = adcRows(IvfIndexStore.adcShortlist(idx, inc, nprobe = 4,
      shortlistL = 10, topK = 3, pred = Some(col("label") % 2 === 0)))
    SimilarityOps.releaseCaches()
    // expected: the allowed set from the ORIGINAL attr frame applied
    // to the code table directly, probed without a predicate
    val allowed = corpusAttrs.filter(col("label") % 2 === 0)
      .select("vec_id")
    val expIdx = idx.copy(pq = idx.pq.map(l => l.copy(codes =
      l.codes.join(allowed, Seq("vec_id"), "left_semi"))))
    val exp = adcRows(IvfIndexStore.adcShortlist(expIdx, inc,
      nprobe = 4, shortlistL = 10, topK = 3))
    assert(got == exp && got.nonEmpty)
    // every surfaced neighbor passes the predicate
    val evenIds = allAttrs.filter(col("label") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.map(_._2).subsetOf(evenIds))
    SimilarityOps.releaseCaches()

    val bare = freshRoot("fpq_bare")
    IvfIndexStore.save(bare, corpus, 32,
      pq = Some(IvfIndexStore.Pq(m = 4, ksub = 16)))
    val bareIdx = IvfIndexStore.load(spark, bare)
    intercept[IllegalArgumentException] {
      IvfIndexStore.adcShortlist(bareIdx, inc, nprobe = 4,
        shortlistL = 10, topK = 3, pred = Some(col("label") === 1))
    }
    SimilarityOps.releaseCaches()
  }

  test("fetchAttrs hydrates a result id set bucket-pruned") {
    val root = freshRoot("hydrate")
    IvfIndexStore.save(root, corpus, 32, attrs = Some(corpusAttrs))
    val idx = IvfIndexStore.load(spark, root)
    val top = IvfIndexStore.shortlist(idx, inc, nprobe = 4, topK = 3)
    val fetched = IvfIndexStore.fetchAttrs(idx,
      top.select(col("nid").as("vec_id")))
    val plan = fetched.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*ab[^\\]]*\\]".r
      .findFirstIn(plan).isDefined,
      s"attr hydration must prune on ab:\n$plan")
    val topIds = top.select("nid").collect().map(_.getLong(0)).toSet
    val got = fetched.select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got.keySet == topIds)
    val expect = allAttrs
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    topIds.foreach(id => assert(got(id) == expect(id)))
    SimilarityOps.releaseCaches()
  }
}
