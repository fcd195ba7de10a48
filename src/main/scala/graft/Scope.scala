package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue,
  ExecutionException, FutureTask}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Scoped ownership of what a unit of Spark work leaves behind: cached
  * and checkpointed frames, background actions, and the AQE-off session
  * its staging writes plan in.
  *
  * Each thread keeps a stack of nested regions; `Scope { body }` pushes
  * one for the body. A region
  *
  *   - owns the frames registered through [[cache]] / [[checkpoint]]
  *     while it is the innermost region (a frame some other owner had
  *     already cached stays that owner's);
  *   - owns the background actions started through [[fork]], each on a
  *     fresh daemon thread `graft-async-<desc>` (a fresh thread, not a
  *     pool: Spark local properties — job description, callers' trace
  *     keys — are inherited only when a thread is created);
  *   - owns at most one clone of each session it stages writes for,
  *     made at its first [[staged]] call with adaptive execution off.
  *
  * On exit a region joins every task it started, then unpersists what
  * it owns, then rethrows: the body's exception first, with task
  * failures attached as suppressed, else the first task failure. A
  * task runs in its own region; its frames pass to the region that
  * forked it when the task ends, so they live until that region exits.
  * [[ArtifactLog.commit]] calls [[join]] before its CAS, so no artifact
  * commit runs ahead of the writes overlapped with it.
  *
  * Frames registered outside any `Scope { }` belong to the thread's root
  * region, which only [[release]] frees: a registered query body
  * returns a frame whose caches its action still reads, and Bench,
  * Verify and Harness release after the action. */
object Scope {

  private final class Task(val thread: Thread, future: FutureTask[Any]) {
    def result(): Any = {
      thread.join()
      try future.get()
      catch { case e: ExecutionException => throw e.getCause }
    }
  }

  /** `owner` is set for a task's region: its frames pass to the forking
    * region, and its staging writes use that region's clone. */
  private final class Region(owner: Option[Region]) {
    /** One unpersist per owned frame. */
    private val frames = new ConcurrentLinkedQueue[() => Unit]()
    val tasks = new ConcurrentLinkedQueue[Task]()
    private val clones = mutable.Map.empty[SparkSession, SparkSession]

    def own(unpersist: () => Unit): Unit = frames.add(unpersist)

    def aqeOff(s: SparkSession): SparkSession = owner match {
      case Some(o) => o.aqeOff(s)
      case None => clones.synchronized(
        clones.getOrElseUpdate(s, GraftBridge.aqeOffClone(s)))
    }

    /** Join every task started so far (tasks started while joining
      * included); the failures, in start order. */
    def joinAll(): Seq[Throwable] = {
      val failed = Seq.newBuilder[Throwable]
      var t = tasks.poll()
      while (t != null) {
        try t.result() catch { case e: Throwable => failed += e }
        t = tasks.poll()
      }
      failed.result()
    }

    /** Unpersist (or, for a task's region, hand over) what it owns. */
    def free(): Unit = {
      var f = frames.poll()
      while (f != null) {
        owner match {
          case Some(o) => o.own(f)
          case None => f()
        }
        f = frames.poll()
      }
    }
  }

  private val stack = ThreadLocal.withInitial[List[Region]](() =>
    List(new Region(None)))

  private def current: Region = stack.get.head

  /** Run `body` in a new region nested in the current one. */
  def apply[T](body: => T): T = within(new Region(None))(body)

  private def within[T](r: Region)(body: => T): T = {
    stack.set(r :: stack.get)
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    stack.set(stack.get.tail)
    val failed = r.joinAll()
    r.free()
    out match {
      case Left(e) =>
        failed.filter(_ ne e).foreach(e.addSuppressed)
        throw e
      case Right(v) => rethrow(failed); v
    }
  }

  /** `df.cache()`, owned by the current region unless it was already
    * cached. */
  def cache(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val c = df.cache()
      current.own(() => c.unpersist(false))
      c
    }

  /** Eager `df.localCheckpoint()`, owned by the current region. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    c.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(rdd => current.own(() => rdd.unpersist(false)))
    c
  }

  /** Start `f`, its jobs labelled `desc`, on a fresh thread owned by
    * the current region. The returned function joins it and returns its
    * value or rethrows its failure; a task nobody joins that way is
    * joined at the next [[join]] or at the region's exit. */
  def fork[T](s: SparkSession, desc: String)(f: => T): () => T = {
    val owner = current
    val future = new FutureTask[Any](new Callable[Any] {
      def call(): Any =
        within(new Region(Some(owner)))(core.labeled(s, desc)(f))
    })
    val task = new Task(new Thread(future, s"graft-async-$desc"), future)
    task.thread.setDaemon(true)
    task.thread.start()
    owner.tasks.add(task)
    () => { owner.tasks.remove(task); task.result().asInstanceOf[T] }
  }

  /** Join every task of the current region, rethrowing the first
    * failure with the rest suppressed. */
  def join(): Unit = rethrow(current.joinAll())

  /** `df` rebound to the current region's AQE-off clone of its session,
    * for an artifact staging write: a scan → explicit bucket
    * repartition → write has no join to re-plan and its partitioning IS
    * the on-disk layout, yet AQE would still run every shuffle stage as
    * its own job. The clone shares the parent's cache and copies its
    * conf and query-execution listeners; plans on the parent session,
    * on any thread, keep AQE. Not for general queries: AQE's runtime
    * broadcast conversion is what keeps iterative joins cheap. */
  def staged(df: DataFrame): DataFrame =
    GraftBridge.ofRows(current.aqeOff(df.sparkSession),
      df.queryExecution.analyzed)

  /** Join the tasks of this thread's root region, then free its frames.
    * Regions opened by `Scope { }` free themselves. */
  def release(): Unit = {
    val root = stack.get.last
    val failed = root.joinAll()
    root.free()
    rethrow(failed)
  }

  private def rethrow(failed: Seq[Throwable]): Unit =
    failed.headOption.foreach { f =>
      failed.tail.foreach(f.addSuppressed)
      throw f
    }
}
