package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.{CommitStore, LinkCommitStore, PackageRow, Takedown,
  TakedownSaga, TxLog}
import graft.ops.{ArtifactLog, DedupOps, IvfIndexStore, MinhashIndexStore,
  SimilarityOps}

/** The one optimistic-commit protocol every versioned root shares
  * ([[TxLog.optimistic]], [[ArtifactLog.rebase]]): a writer that gives
  * up leaves `data/` as it found it, a writer that loses and retries
  * commits the record an uncontended run commits, and the vacuums'
  * grace walk survives staging that comes and goes under it. */
class CommitProtocolSpec extends SparkTestBase {
  import spark.implicits._

  private val NOW = "2026-08-14T00:00:00Z"

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"commitproto_$tag").toString

  /** Every path under `root/data`, relative to it. */
  private def dataTree(root: String): Set[String] = {
    val d = Paths.get(root, "data")
    if (!Files.exists(d)) Set.empty
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.map(p => d.relativize(p).toString).toSet
      finally s.close()
    }
  }

  private def topDirs(root: String): Set[String] =
    dataTree(root).filter(p => p.nonEmpty && !p.contains('/'))

  /** The top-level data dirs some retained commit record names. */
  private def referenced(root: String): Set[String] =
    ArtifactLog.list(root).flatMap { case (_, p) =>
      Files.readString(p).linesIterator.filter(_.contains('\t'))
        .map(_.split('\t')(1).split('/').head)
    }.toSet

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private def newestRecord(root: String): String =
    Uuid.replaceAllIn(Files.readString(ArtifactLog.list(root).head._2), "U")

  /** A store whose first `losses` claims lose without claiming, then
    * defers to link(2); counts every claim. */
  private final class FlakyStore(losses: Int) extends CommitStore {
    val claims = new AtomicInteger(0)
    def putIfAbsent(target: Path, content: String): Boolean =
      claims.incrementAndGet() > losses &&
        LinkCommitStore.putIfAbsent(target, content)
  }

  private def emptyCatalog: DataFrame = Seq.empty[PackageRow].toDF()

  private def packages(urls: String*): DataFrame =
    urls.map(u => PackageRow.minimal(u, "maven", u.takeRight(5), Some("1.0"),
      miningLevel = 50)).toDF().withColumn("visit_level", lit(50))

  private def emb: DataFrame = SimilarityOps.quantized(spark, sf001)

  private def docs(rows: (Long, String)*): DataFrame =
    DedupOps.shingleDocs(rows.toDF("doc_id", "text"))

  /** One writer: `seed` builds the root it writes to, `write` runs the
    * writer once through `store`. */
  private final class Writer(val name: String, val seed: String => Unit,
      val write: (String, CommitStore) => Long)

  private val writers = Seq(
    new Writer("TxLog.transact",
      root => TxLog.mergeCommit(spark, root, packages("http://x/a.jar"),
        NOW, emptyCatalog),
      (root, store) => TxLog.mergeCommit(spark, root,
        packages("http://x/b.jar"), NOW, emptyCatalog, store)),
    new Writer("TxLog.mergeCommitDelta",
      root => TxLog.mergeCommitDelta(spark, root, packages("http://x/a.jar"),
        NOW, emptyCatalog, partitions = 8, tag = Some(0L)),
      (root, store) => TxLog.mergeCommitDelta(spark, root,
        packages("http://x/b.jar"), NOW, emptyCatalog, partitions = 8,
        tag = Some(1L), store = store)),
    new Writer("IvfIndexStore.append",
      root => IvfIndexStore.save(root,
        emb.filter(col("vec_id") % 5 =!= 0), 16),
      (root, store) => IvfIndexStore.append(spark, root,
        emb.filter(col("vec_id") % 5 === 0), store, tag = Some(1L))),
    new Writer("IvfIndexStore.delete",
      root => IvfIndexStore.save(root, emb, 16),
      (root, store) => IvfIndexStore.delete(spark, root,
        Seq(7L, 9L).toDF("vec_id"), store, tag = Some(1L),
        tagKey = "tdtag")),
    new Writer("MinhashIndexStore.append",
      root => MinhashIndexStore.save(root,
        docs(1L -> "alpha beta gamma delta epsilon zeta")),
      (root, store) => MinhashIndexStore.append(spark, root,
        docs(2L -> "one two three four five six"), store)),
    new Writer("Takedown.takedown",
      root => {
        val p = packages("http://x/a.jar", "http://x/b.jar")
          .select("download_url", "name")
        Takedown.save(root, p, p, p, p, p)
      },
      (root, store) => Takedown.takedown(root,
        Seq("http://x/a.jar").toDF("download_url"), store,
        tag = Some(1L))),
    new Writer("TakedownSaga.begin",
      root => TxLog.init(root),
      (root, store) => TakedownSaga.begin(spark, root,
        Seq(1L).toDF("doc_id"),
        TakedownSaga.Stores(dedup = Some("/nonexistent/mh")), store,
        tag = Some(1L))))

  for (w <- writers) {
    test(s"${w.name}: a writer that exhausts its retries leaves data/ " +
        "as it found it") {
      val root = freshRoot("lose")
      w.seed(root)
      val before = dataTree(root)
      val losing = new FlakyStore(Int.MaxValue)
      intercept[TxLog.CommitConflict](w.write(root, losing))
      assert(losing.claims.get == TxLog.MaxRetries + 1)
      assert(dataTree(root) == before)
    }

    test(s"${w.name}: a writer that loses three times commits the " +
        "uncontended record") {
      val (clean, flaky) = (freshRoot("clean"), freshRoot("flaky"))
      w.seed(clean)
      w.seed(flaky)
      val store = new FlakyStore(3)
      val v = w.write(flaky, store)
      assert(store.claims.get == 4)
      assert(v == w.write(clean, LinkCommitStore))
      assert(newestRecord(flaky) == newestRecord(clean))
      // every lost attempt's staging is gone again
      assert(topDirs(flaky).size == topDirs(clean).size)
    }
  }

  /** A store that runs `race` before its first claim, then loses it
    * (whatever the race committed holds the slot); later claims defer
    * to link(2). */
  private def racing(race: => Unit): CommitStore = new CommitStore {
    private val first = new AtomicBoolean(true)
    def putIfAbsent(target: Path, content: String): Boolean =
      if (first.getAndSet(false)) { race; false }
      else LinkCommitStore.putIfAbsent(target, content)
  }

  test("a rebasing writer whose batch lands mid-loop drops its staging " +
      "and returns the landed version") {
    val root = freshRoot("landed")
    IvfIndexStore.save(root, emb.filter(col("vec_id") % 5 =!= 0), 16)
    val inc = emb.filter(col("vec_id") % 5 === 0)
    // a second driver replays the same batch and wins the slot
    var winner = -1L
    val v = IvfIndexStore.append(spark, root, inc, racing {
      winner = IvfIndexStore.append(spark, root, inc, tag = Some(1L))
    }, tag = Some(1L))
    assert(v == winner && v == 2L)
    assert(IvfIndexStore.latestVersion(root) == 2L)
    assert(topDirs(root) == referenced(root))
  }

  test("a rebasing writer whose head structure was replaced drops its " +
      "staging and rethrows the structure check") {
    val root = freshRoot("structure")
    IvfIndexStore.save(root, emb.filter(col("vec_id") % 5 =!= 0), 16)
    intercept[IllegalArgumentException] {
      IvfIndexStore.append(spark, root, emb.filter(col("vec_id") % 5 === 0),
        racing(IvfIndexStore.retrain(spark, root, k = Some(8))))
    }
    assert(topDirs(root) == referenced(root))
  }

  test("a failure after the claim landed GCs nothing: the committed " +
      "version keeps its data") {
    val root = freshRoot("landedthenthrew")
    IvfIndexStore.save(root, emb.filter(col("vec_id") % 5 =!= 0), 16)
    val claimedThenThrew = new CommitStore {
      def putIfAbsent(target: Path, content: String): Boolean = {
        LinkCommitStore.putIfAbsent(target, content)
        throw new java.io.IOException("temp file clean-up failed")
      }
    }
    intercept[java.io.IOException] {
      IvfIndexStore.append(spark, root, emb.filter(col("vec_id") % 5 === 0),
        claimedThenThrew, tag = Some(1L))
    }
    assert(IvfIndexStore.latestVersion(root) == 2L)
    assert(referenced(root).subsetOf(topDirs(root)))
    assert(IvfIndexStore.load(spark, root).cells.count() == emb.count())
  }

  /** Files that another thread keeps creating and deleting under
    * `dir` until `stop` is set: a ring of small subtrees, each deleted
    * a few steps after it was made, so a walk meets entries vanishing
    * under it. */
  private def churn(dir: Path, stop: AtomicBoolean): Thread = {
    val t = new Thread(() => {
      var i = 0
      def sub(n: Int) = dir.resolve(s"t$n")
      while (!stop.get) {
        val s = Files.createDirectories(sub(i).resolve("pid=0"))
        (0 until 4).foreach(j => Files.writeString(s.resolve(s"f$j"), "x"))
        if (i >= 16) {
          val w = Files.walk(sub(i - 16))
          try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
          finally w.close()
        }
        i += 1
      }
    })
    t.setDaemon(true)
    t.start()
    t
  }

  /** A root of each log format with one live record, and its vacuum
    * with a long grace: nothing is old enough to go. */
  private val vacuums = Seq[(String, String => Unit, String => Unit)](
    ("TxLog.vacuum", { root =>
      TxLog.init(root)
      Files.createDirectories(Paths.get(root, "data", "live"))
      TxLog.commit(root, 0L, "live")
    }, root => TxLog.vacuum(root, graceMs = 3600000L)),
    ("ArtifactLog.vacuum", { root =>
      TxLog.init(root)
      Files.createDirectories(Paths.get(root, "data", "live", "D"))
      ArtifactLog.commit(root, "x", 0L,
        ArtifactLog.Rec(Seq("a" -> "1"), Seq("D" -> "live/D")),
        LinkCommitStore)
    }, root => ArtifactLog.vacuum(root, "x", 2, 3600000L)))

  for ((name, seed, vacuum) <- vacuums)
    test(s"$name survives staging that vanishes mid-walk") {
      val root = freshRoot("churn")
      seed(root)
      val staging = Files.createDirectories(Paths.get(root, "data", "inflight"))
      val stop = new AtomicBoolean(false)
      val t = churn(staging, stop)
      try (1 to 300).foreach(_ => vacuum(root))
      finally { stop.set(true); t.join() }
      assert(topDirs(root) == Set("live", "inflight"))
    }

  test("a tree that vanished reads as just modified, never as sweepable") {
    val gone = Paths.get(freshRoot("gone"), "missing")
    val before = System.currentTimeMillis()
    assert(TxLog.treeMtime(gone) >= before)
  }
}
