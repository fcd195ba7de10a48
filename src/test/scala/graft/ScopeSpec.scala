package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.ops.ArtifactLog

/** Latches a UDF inside a Spark task can reach without capturing them
  * (a top-level object is not serialized with the closure). */
object ScopeSpecLatches {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** [[Scope]]: regions join their background tasks before they free
  * their frames, failures are never swallowed, commits wait for the
  * writes they name, and staging writes plan on a clone without
  * touching the parent session's AQE. */
class ScopeSpec extends SparkTestBase {

  private def asyncThreads(prefix: String): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith(s"graft-async-$prefix") && t.isAlive)

  private def adaptive(p: SparkPlan): Boolean =
    p.isInstanceOf[AdaptiveSparkPlanExec] || p.children.exists(adaptive)

  test("a body that throws after a background write started rethrows " +
      "its own error with the task's attached, joins the task and " +
      "frees what the task cached") {
    val out = Files.createTempDirectory("scope_fail").toString
    val started = new CountDownLatch(1)
    @volatile var inTask: DataFrame = null
    val body = new IllegalStateException("body failed")
    val e = intercept[IllegalStateException] {
      Scope {
        Scope.fork(spark, "scope-spec-write") {
          val c = Scope.cache(spark.range(0, 1000).toDF("id")
            .withColumn("x", col("id") * 7))
          c.write.parquet(s"$out/w")
          inTask = c
          started.countDown()
          throw new RuntimeException("task failed")
        }
        started.await()
        throw body
      }
    }
    assert(e eq body)
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("task failed"))
    assert(asyncThreads("scope-spec-").isEmpty)
    assert(inTask.storageLevel == StorageLevel.NONE)
    assert(Files.exists(Paths.get(out, "w", "_SUCCESS")))
  }

  test("a task failure fails a body that returned normally, and " +
      "frames outside the region stay cached") {
    val outer = Scope.cache(spark.range(0, 50).toDF("id"))
    try {
      val e = intercept[RuntimeException] {
        Scope {
          val inner = Scope.cache(outer) // already cached: not owned
          Scope.fork(spark, "scope-spec-fail")(
            throw new RuntimeException("task failed"))
          inner.count()
        }
      }
      assert(e.getMessage == "task failed")
      assert(outer.storageLevel != StorageLevel.NONE)
    } finally Scope.release()
    assert(outer.storageLevel == StorageLevel.NONE)
  }

  test("ArtifactLog.commit joins the region's overlapped writes before " +
      "its CAS") {
    val root = Files.createTempDirectory("scope_commit").toString
    graft.catalog.TxLog.init(root)
    Scope {
      Scope.fork(spark, "scope-spec-stage") {
        Thread.sleep(300)
        spark.range(0, 10).write.parquet(s"$root/data/staged")
      }
      ArtifactLog.commit(root, "mh", 0L,
        ArtifactLog.Rec(Seq("k" -> "1"), Seq("B" -> "staged")),
        graft.catalog.LinkCommitStore)
      assert(Files.exists(Paths.get(root, "data", "staged", "_SUCCESS")),
        "the commit ran ahead of its staging write")
    }
  }

  test("while a staging write is held open, queries planned on the " +
      "parent session keep AQE and the write's plan does not") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // registered before the region's clone exists: the clone copies it
    spark.listenerManager.register(listener)
    ScopeSpecLatches.entered = new CountDownLatch(1)
    ScopeSpecLatches.release = new CountDownLatch(1)
    val hold = udf { (x: Long) =>
      ScopeSpecLatches.entered.countDown()
      ScopeSpecLatches.release.await(60, TimeUnit.SECONDS)
      x
    }
    val out = Files.createTempDirectory("scope_aqe").toString
    try {
      Scope {
        val frame = spark.range(0, 200).toDF("id")
          .withColumn("k", hold(col("id")) % 4).repartition(col("k"))
        assert(adaptive(frame.queryExecution.executedPlan))
        val staged = Scope.staged(frame)
        assert(!adaptive(staged.queryExecution.executedPlan))
        Scope.fork(spark, "scope-spec-held")(
          staged.write.partitionBy("k").parquet(s"$out/held"))
        assert(ScopeSpecLatches.entered.await(60, TimeUnit.SECONDS))
        @volatile var parentPlan: SparkPlan = null
        val other = new Thread(() => parentPlan = spark.range(0, 1000)
          .groupBy((col("id") % 7).as("g")).count()
          .queryExecution.executedPlan)
        other.start(); other.join()
        assert(parentPlan.isInstanceOf[AdaptiveSparkPlanExec],
          s"parent plan lost AQE during a staging write:\n$parentPlan")
        ScopeSpecLatches.release.countDown()
      }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def writePlan = plans.asScala.find(_.toString.contains("held"))
      while (writePlan.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(writePlan.isDefined, "the clone did not report the write")
      assert(!adaptive(writePlan.get),
        s"write planned adaptive:\n${writePlan.get}")
    } finally {
      ScopeSpecLatches.release.countDown()
      spark.listenerManager.unregister(listener)
    }
  }
}
