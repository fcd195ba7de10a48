package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `op` is the operation id every span of one
  * operation shares; `parent` is the enclosing span's id (0 = the
  * operation's root span). Times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, op: String, name: String,
    start: Long, end: Long)

/** In-memory span recorder. Spans are recorded only while the calling
  * thread is inside a traced operation ([[Spans.op]] with
  * `traced = true`); everywhere else [[Spans.span]] just runs its body,
  * so the untraced runs pay one thread-local read per layer call. */
object Spans {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  // (op id, stack of open span ids) of the calling thread's traced op
  private val current = new ThreadLocal[(String, List[Long])]

  private def epochNs(): Long =
    System.currentTimeMillis() * 1000000L + (System.nanoTime() % 1000000L)

  /** Run `body` as operation `op`, under a root span named "op". */
  def op[T](op: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      current.set((op, Nil))
      try span("op")(body)
      finally current.remove()
    }

  /** Local property naming the innermost open span of a traced op, so
    * the listener can attribute jobs that carry no repo call site. */
  val SpanKey = "perfbench.span"
  /** The traced run's context; spans set [[SpanKey]] on it. */
  @volatile var context: Option[SparkContext] = None

  /** Record `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val cur = current.get
    if (cur == null) body
    else {
      val (op, stack) = cur
      val id = ids.incrementAndGet()
      current.set((op, id :: stack))
      val sc = context
      val outer = sc.map(_.getLocalProperty(SpanKey))
      sc.foreach(_.setLocalProperty(SpanKey, name))
      val t0 = System.nanoTime()
      val s0 = epochNs()
      try body
      finally {
        val dt = System.nanoTime() - t0
        done.add(Span(id, stack.headOption.getOrElse(0L), op, name, s0,
          s0 + dt))
        current.set((op, stack))
        sc.foreach(_.setLocalProperty(SpanKey, outer.orNull))
      }
    }
  }

  def all: Seq[Span] = done.asScala.toSeq

  /** Self time per span: duration minus the union of its children's
    * intervals. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Long)] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      (s, (s.end - s.start) - Intervals.covered(cs, s.start, s.end))
    }
  }

  /** JSON lines, one span each, written when the run ends. */
  def write(file: File, spans: Seq[Span]): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}",""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Intervals {
  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}

/** Counters of one Spark job, attributed to the operation that ran it
  * (the `perfbench.op` local property) and to the repo module of its
  * call site. Times are epoch milliseconds. */
final class JobRec(val op: String, val module: String, val start: Long) {
  @volatile var end: Long = -1L
  val stages = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val taskMs = new AtomicLong(0)
  val shuffleBytes = new AtomicLong(0)
  val spillBytes = new AtomicLong(0)
  val inputBytes = new AtomicLong(0)
  val outputBytes = new AtomicLong(0)
}

/** The benchmark's SparkListener + QueryExecutionListener. It records
  * only jobs of traced operations (op ids starting with `t`), and maps
  * a job to a module through its call site: the long call site of the
  * SQL execution (or RDD stage) that ran it lists the stack below
  * Spark, and the innermost frame in a repo source file names the
  * module, e.g. `IvfIndexStore.scala` → `ops` (`modules` maps each file
  * to its directory under `src/main/scala/graft`). A job with no repo
  * frame (the harness forced a frame a layer returned) takes the layer
  * of its enclosing span, and counts as `other` outside any span. */
final class Attribution(modules: Map[String, String]) extends SparkListener
    with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  // planning phases: (epoch ms at planning start, total ms)
  val plans = new ConcurrentLinkedQueue[(Long, Long)]()

  // SQL execution id → long call site of the action that started it
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r

  /** Module of the innermost repo frame of a long call site, skipping
    * the shared top-level helpers (`core.scala` and friends). */
  def moduleOf(longSite: String): Option[String] =
    frame.findAllMatchIn(longSite).map(_.group(1))
      .collectFirst { case f if modules.get(f).exists(_ != "graft") => modules(f) }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.details)
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val op = prop(Attribution.OpKey).getOrElse("")
    if (op.startsWith("t")) {
      // jobs of a SQL action, broadcast and subquery jobs included, take
      // the action's call site; plain RDD jobs their result stage's
      val site = prop("spark.sql.execution.id")
        .flatMap(id => Option(execSite.get(id.toLong)))
        .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.details))
        .getOrElse("")
      // an action the harness calls on a frame a layer built has no
      // repo frame: it belongs to the layer of the enclosing span
      val module = moduleOf(site)
        .orElse(prop(Spans.SpanKey).map(_.takeWhile(_ != '.')))
        .getOrElse("other")
      val rec = new JobRec(op, module, js.time)
      jobs.put(js.jobId, rec)
      js.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_.end = je.time)

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(sc.stageInfo.stageId)).foreach { r =>
      val m = sc.stageInfo.taskMetrics
      r.stages.incrementAndGet()
      r.tasks.addAndGet(sc.stageInfo.numTasks)
      if (m != null) {
        r.taskMs.addAndGet(m.executorRunTime)
        r.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        r.spillBytes.addAndGet(m.diskBytesSpilled)
        r.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        r.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  private def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      plans.add((ph.values.map(_.startTimeMs).min,
        ph.values.map(_.durationMs).sum))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)
}

object Attribution {
  val OpKey = "perfbench.op"

  /** Source file name → module, from the program's source tree. */
  def modules(srcRoot: File): Map[String, String] = {
    def walk(d: File, module: String): Seq[(String, String)] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) walk(f, if (module == "graft") f.getName else module)
        else if (f.getName.endsWith(".scala")) Seq(f.getName -> module)
        else Nil
      }
    walk(srcRoot, "graft").toMap
  }

  def install(spark: SparkSession, a: Attribution): Unit = {
    spark.sparkContext.addSparkListener(a)
    spark.listenerManager.register(a)
  }

  def uninstall(spark: SparkSession, a: Attribution): Unit = {
    spark.sparkContext.removeSparkListener(a)
    spark.listenerManager.unregister(a)
  }
}
