package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{PackageRow, TxLog}
import graft.ops.{ArtifactLog, DedupOps, IvfIndexStore, MinhashIndexStore,
  SimilarityOps}

/** The read-handle reuse contract of [[graft.ops.ArtifactLog.reuse]]
  * behind `IvfIndexStore.load`, `MinhashIndexStore.load` and
  * `TxLog.readDelta`: a second read of an unchanged root returns the
  * same handle and starts no Spark job; a commit between two reads is
  * visible to the second; a handle never crosses sessions; and the memo
  * keeps one entry per root, the newest version's. */
class StoreReuseSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"reusespec_$tag").toString

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobs[T](f: => T): (T, Int) = {
    val l = new Harness.Listener
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      l.drain()
      (r, l.totals.jobs)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def ids(df: DataFrame, key: String): Set[Long] =
    df.select(key).as[Long].collect().toSet

  /** (a) and (d) for one store: the first read builds and is kept, the
    * second returns it with 0 jobs. */
  private def reusedOnce[H <: AnyRef](root: String)(read: => H): H = {
    val (h1, built) = jobs(read)
    assert(built > 0, "a fresh read infers its schemas with Spark jobs")
    val (h2, again) = jobs(read)
    assert(h2 eq h1, "unchanged root: the same handle comes back")
    assert(again == 0, s"a reused read started $again Spark jobs")
    assert(ArtifactLog.reused(root).exists(_ eq h1))
    h1
  }

  private def emb: DataFrame = SimilarityOps.quantized(spark, sf001)

  test("IVF: reused while unchanged; append, delete and compact are " +
      "seen by the next load, which replaces the kept handle") {
    val root = freshRoot("ivf")
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    IvfIndexStore.save(root, corpus, 32)
    val i1 = reusedOnce(root)(IvfIndexStore.load(spark, root))
    assert(ids(i1.cells, "vec_id") == ids(corpus, "vec_id"))

    IvfIndexStore.append(spark, root, emb.filter(col("vec_id") % 5 === 0))
    val i2 = IvfIndexStore.load(spark, root)
    assert(i2.version == 2L && (i2 ne i1))
    assert(ids(i2.cells, "vec_id") == ids(emb, "vec_id"))
    assert(ArtifactLog.reused(root).exists(_ eq i2),
      "the newer version replaced the older one's frames")

    IvfIndexStore.delete(spark, root,
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"))
    val i3 = IvfIndexStore.load(spark, root)
    assert(i3.version == 3L &&
      ids(i3.cells, "vec_id") == ids(emb.filter(col("vec_id") % 7 =!= 0),
        "vec_id"))

    IvfIndexStore.compact(spark, root)
    val i4 = reusedOnce(root)(IvfIndexStore.load(spark, root))
    assert(i4.version == 4L &&
      ids(i4.cells, "vec_id") == ids(i3.cells, "vec_id"))
    SimilarityOps.releaseCaches()
  }

  test("MinHash: reused while unchanged; append, delete and compact " +
      "are seen by the next load") {
    val root = freshRoot("mh")
    def shingled(rows: Seq[(Long, String)]) =
      DedupOps.shingleDocs(rows.toDF("doc_id", "text"))
    MinhashIndexStore.save(root, shingled(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight")))
    val m1 = reusedOnce(root)(MinhashIndexStore.load(spark, root))
    assert(ids(m1.bands, "doc_id") == Set(1L, 2L))

    MinhashIndexStore.append(spark, root, shingled(Seq(
      3L -> "red orange yellow green blue indigo violet ultra")))
    val m2 = MinhashIndexStore.load(spark, root)
    assert(m2.version == 2L && (m2 ne m1) &&
      ids(m2.bands, "doc_id") == Set(1L, 2L, 3L))

    MinhashIndexStore.delete(spark, root, Seq(2L).toDF("doc_id"))
    val m3 = MinhashIndexStore.load(spark, root)
    assert(m3.version == 3L && ids(m3.bands, "doc_id") == Set(1L, 3L) &&
      ids(m3.shingles, "doc_id") == Set(1L, 3L))

    MinhashIndexStore.compact(spark, root)
    val m4 = reusedOnce(root)(MinhashIndexStore.load(spark, root))
    assert(m4.version == 4L && ids(m4.bands, "doc_id") == Set(1L, 3L))
    DedupOps.releaseCaches()
  }

  test("readDelta: reused while unchanged; a merge commit is seen by " +
      "the next read") {
    val root = freshRoot("delta")
    val empty = Seq.empty[PackageRow].toDF()
    def merge(rows: PackageRow*) = TxLog.mergeCommitDelta(spark, root,
      rows.toDF().withColumn("visit_level", lit(50)),
      "2026-08-14T00:00:00Z", empty, partitions = 4)
    def urls(df: DataFrame) =
      df.select("download_url").as[String].collect().toSet
    merge((0 until 8).map(i => PackageRow.minimal(
      s"http://x/p$i.jar", "maven", s"p$i", Some("1.0"))): _*)
    val c1 = reusedOnce(root)(TxLog.readDelta(spark, root, empty)._2)
    assert(urls(c1).size == 8)

    merge(PackageRow.minimal("http://x/new.jar", "maven", "new", Some("9.9")))
    val (v2, c2) = TxLog.readDelta(spark, root, empty)
    assert(v2 == 2L && (c2 ne c1) && urls(c2) == urls(c1) + "http://x/new.jar")
    val (c3, n) = jobs(TxLog.readDelta(spark, root, empty)._2)
    assert((c3 eq c2) && n == 0)
  }

  test("a handle is never returned to another session, the Scope.staged " +
      "AQE-off clone included") {
    val root = freshRoot("sessions")
    IvfIndexStore.save(root, emb, 32)
    val mine = IvfIndexStore.load(spark, root)
    def other(s: SparkSession): Unit = {
      assert(s ne spark)
      val theirs = IvfIndexStore.load(s, root)
      assert((theirs ne mine) && (theirs.cells.sparkSession eq s))
      assert(IvfIndexStore.load(s, root) eq theirs)
    }
    other(spark.newSession())
    Scope { other(Scope.staged(spark.range(1).toDF()).sparkSession) }
    // one entry per root: the other session's load replaced this one's
    val again = IvfIndexStore.load(spark, root)
    assert((again ne mine) && (again.cells.sparkSession eq spark))
    assert(ids(again.cells, "vec_id") == ids(emb, "vec_id"))
    SimilarityOps.releaseCaches()
  }
}
