package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark workload. The harness calls [[setup]] several times
  * (each into a fresh root, the last one is kept), then runs a closed
  * loop of [[op]] calls for the run's seconds, then [[check]]s the
  * outputs outside the timed window. */
trait Workload {
  /** Generate the inputs from the seed and build the initial
    * artifacts under `root`. Resets all state, so every call builds
    * the same thing. */
  def setup(root: File): Unit
  /** One operation; returns the domain rows it completed. Throws on
    * failure. */
  def op(): Long
  /** The timed loop runs for the run's seconds and then to the end of
    * a round of this many operations, so every run measures the same
    * mix of operations however fast the host is. */
  def opsPerRound: Int
  /** Operations run untimed on the measured state right before the
    * window opens, so timed operations do not pay their code path's
    * first-use cost (codegen, JIT). */
  def warmupOps: Int = 0
  /** Called once, untimed, right before the timed window opens. */
  def beforeTimed(): Unit = ()
  /** Domain rows completed in the timed window that [[op]] could not
    * count without extra Spark work; computed after the window. */
  def rowsAfterRun(): Long = 0L
  /** A line of run facts printed after the timed window, or "". */
  def notes(): String = ""
  /** Output checks: one message per failed check. */
  def check(): Seq[String]
  /** Every on-disk root the workload owns. */
  def roots: Seq[File]
  /** Per-layer gauges measured after the run (traced runs only). */
  def gauges(): Map[String, Double] = Map.empty
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "rows_per_s" -> "rows/s", "stored_mb" -> "MB")

  private val modules = Seq("streaming", "catalog", "ops", "matching", "api")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.driver_gap_s_per_op" -> "s",
    "spark.plan_ms_per_op" -> "ms", "spark.task_s_per_op" -> "s",
    "spark.busy_frac" -> "ratio", "spark.shuffle_mb_per_op" -> "MB",
    "spark.spill_mb_per_op" -> "MB", "spark.input_mb_per_op" -> "MB",
    "spark.output_mb_per_op" -> "MB",
    "streaming.jobs_per_batch" -> "count",
    "streaming.job_s_per_batch" -> "s",
    "streaming.read_mb_per_batch" -> "MB",
    "streaming.staged_mb_per_batch" -> "MB",
    "streaming.frontier_rows" -> "rows",
    "catalog.jobs_per_batch" -> "count", "catalog.job_s_per_batch" -> "s",
    "catalog.data_dirs" -> "count", "catalog.rows" -> "rows",
    "catalog.read_s" -> "s",
    "ops.jobs_per_op" -> "count", "ops.job_s_per_op" -> "s",
    "ops.minhash_ingest_s" -> "s", "ops.minhash_delete_s" -> "s",
    "ops.ivf_append_s" -> "s", "ops.ivf_delete_s" -> "s",
    "ops.compact_s" -> "s", "ops.vacuum_s" -> "s",
    "ops.versions_per_op" -> "count", "ops.manifest_dirs" -> "count",
    "ops.ivf_shortlist_s" -> "s", "ops.ivf_filtered_shortlist_s" -> "s",
    "ops.minhash_verdicts_s" -> "s", "ops.ann_recall" -> "ratio",
    "matching.jobs_per_op" -> "count", "matching.job_s_per_op" -> "s",
    "matching.exact_s" -> "s", "matching.approx_s" -> "s",
    "matching.hits_per_query" -> "count",
    "api.jobs_per_op" -> "count", "api.job_s_per_op" -> "s",
    "api.checksum_lookup_s" -> "s", "api.latest_version_s" -> "s",
    "api.resolve_s" -> "s",
    "other.jobs_per_op" -> "count", "other.job_s_per_op" -> "s",
    "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB", "host.calib_s" -> "s",
    "trace.overhead_frac" -> "ratio", "fail_frac" -> "ratio")

  // span name → per-layer metric: mean self time per call
  private val spanMetrics = Seq("catalog.read", "ops.minhash_ingest",
    "ops.minhash_delete", "ops.ivf_append", "ops.ivf_delete",
    "ops.ivf_shortlist", "ops.ivf_filtered_shortlist",
    "ops.minhash_verdicts", "matching.exact", "matching.approx",
    "api.checksum_lookup", "api.latest_version", "api.resolve")

  private final case class OpRec(id: String, startMs: Long, endMs: Long,
      secs: Double)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank p90 and the number of samples above it. A run holds
    * 2-3 operations, too few for any percentile above the median to
    * have 10 samples beyond it, so the tail is a fixed percentile and
    * its sample count is printed beside it. */
  def p90(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 0)
    else {
      val rank = math.ceil(0.9 * s.length).toInt
      (s(rank - 1), s.length - rank)
    }
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Fixed CPU-only loop; its time shows how fast the host is now. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("") // keeps the loop from being optimized away
    secs(t0)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val inject = a.getOrElse("inject-fail", "-1").toInt
    val work = new File(a("work"))
    // the launcher gives the JVM half the host's cores (see run.py)
    val cores = Runtime.getRuntime.availableProcessors

    val calib0 = calibrate()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS = secs(t0)

    val w: Workload = name match {
      case "ingest" => new Ingest(spark, seed)
      case "mine"  => new Mine(spark, seed)
      case "index" => new Index(spark, seed)
      case "match" => new Match(spark, seed)
      case other   => throw new IllegalArgumentException(s"workload $other")
    }

    // set-up runs several times into fresh roots; the median is the
    // figure, the last build is the one measured
    sc.setLocalProperty(Attribution.OpKey, "s")
    val setupReps = 3
    val setupTimes = (0 until setupReps).map { r =>
      val root = new File(work, s"state-$r")
      val t = System.nanoTime()
      w.setup(root)
      val dt = secs(t)
      if (r > 0) deleteTree(new File(work, s"state-${r - 1}"))
      dt
    }
    val setupS = sessionS + median(setupTimes)
    println(f"[perfbench] $name seed=$seed session=$sessionS%.2fs setup reps=" +
      setupTimes.map(t => f"$t%.2f").mkString(","))

    // The timed window: a closed loop for the run's seconds, then to the
    // end of the workload's round. Failed operations are counted, never
    // retried.
    var opIndex = 0
    var failedOps = 0
    var warmups = 0
    def timedRound(traced: Boolean): (Seq[OpRec], Long, Double) = {
      (0 until w.warmupOps).foreach { _ =>
        warmups += 1
        try w.op() catch {
          case e: Throwable =>
            failedOps += 1
            System.err.println(s"[perfbench] warm-up op failed: $e")
        }
      }
      w.beforeTimed()
      var rows = 0L
      val recs = ArrayBuffer.empty[OpRec]
      val tStart = System.nanoTime()
      val deadline = tStart + seconds * 1000000000L
      var i = 0
      while (System.nanoTime() < deadline || i % w.opsPerRound != 0) {
        val id = s"${if (traced) "t" else "u"}$opIndex"
        sc.setLocalProperty(Attribution.OpKey, id)
        val s = System.currentTimeMillis()
        val t1 = System.nanoTime()
        try {
          if (opIndex == inject) throw new IllegalStateException("injected failure")
          rows += Spans.op(id, traced)(w.op())
        } catch {
          case e: Throwable =>
            failedOps += 1
            System.err.println(s"[perfbench] op $id failed: $e")
        }
        recs += OpRec(id, s, System.currentTimeMillis(), secs(t1))
        i += 1
        opIndex += 1
      }
      (recs.toSeq, rows, secs(tStart))
    }

    val attribution = if (!trace) None else {
      val at = new Attribution(Attribution.modules(new File(a("src"))))
      Attribution.install(spark, at)
      Spans.context = Some(sc)
      Some(at)
    }

    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val (ops, rows, wall) = timedRound(trace)
    val storedMb = w.roots.map(dirBytes).sum / 1e6
    val gcS = (gcMs() - gc0) / 1000.0
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

    sc.setLocalProperty(Attribution.OpKey, "c")
    attribution.foreach(_ => PerfbenchBus.drain(sc))
    val rowsTotal = rows + w.rowsAfterRun()
    val tCheck = System.nanoTime()
    val checks = try w.check() catch {
      case e: Throwable => Seq(s"check threw: $e")
    }
    val checkS = secs(tCheck)
    checks.foreach(m => println(s"[perfbench] CHECK FAILED: $m"))
    Some(w.notes()).filter(_.nonEmpty).foreach(n => println(s"[perfbench] $n"))

    val lat = ops.map(_.secs)
    val (tailV, beyond) = p90(lat)

    // Untraced runs leave their op_p50_s under the results directory of
    // their source state. A traced run's overhead is its op_p50_s over
    // the median of those; with none yet, it measures its own baseline:
    // a fresh set-up and the same round (same seed) untraced. That round
    // is the second in the JVM and skips first-use cost the traced one
    // paid, so this fallback over-reads the overhead.
    val results = new File(a("results"))
    results.mkdirs()
    if (!trace) java.nio.file.Files.writeString(
      new File(results, s"$name-seed$seed.txt").toPath, median(lat).toString)
    val stored = Option(results.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(s"$name-seed"))
      .map(f => java.nio.file.Files.readString(f.toPath).trim.toDouble)
    val traceMetrics = if (!trace) Map.empty[String, Double] else {
      val at = attribution.get
      val spans = Spans.all
      Spans.write(new File(a("traces"), s"$name-seed$seed.jsonl"), spans)
      val v = layerMetrics(at, spans, ops, cores) ++ w.gauges()
      val base = if (stored.nonEmpty) {
        println(s"[perfbench] overhead baseline: ${stored.length} untraced runs")
        median(stored)
      } else {
        Attribution.uninstall(spark, at)
        Spans.context = None
        sc.setLocalProperty(Attribution.OpKey, "s")
        w.setup(new File(work, s"state-$setupReps"))
        deleteTree(new File(work, s"state-${setupReps - 1}"))
        val (us, _, _) = timedRound(traced = false)
        println("[perfbench] overhead baseline: in-run untraced round")
        median(us.map(_.secs))
      }
      println(f"[perfbench] traced p50=${median(lat)}%.3fs baseline p50=$base%.3fs")
      v + ("trace.overhead_frac" -> (median(lat) / base - 1.0))
    }

    val attempted = opIndex + warmups
    val failed = failedOps + checks.length
    val failFrac = failed.toDouble / math.max(1, attempted)
    println(f"[perfbench] ops=$attempted failed_ops=$failedOps " +
      f"failed_checks=${checks.length} fail_frac=$failFrac%.4f " +
      f"op_tail_s=p90 of ${lat.length} ops ($beyond beyond it) " +
      f"wall=$wall%.2fs rows=$rowsTotal check=$checkS%.2fs")
    println("[perfbench] op latencies: " + lat.map(x => f"$x%.3f").mkString(","))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val v = Map("setup_s" -> setupS, "op_p50_s" -> median(lat),
          "op_tail_s" -> tailV, "rows_per_s" -> rowsTotal / wall,
          "stored_mb" -> storedMb)
        EndToEnd.map { case (n, u) => (n, v(n), u) }
      } else {
        val v = traceMetrics ++ Map(
          "jvm.gc_s" -> gcS, "jvm.peak_heap_mb" -> peakHeapMb,
          "host.calib_s" -> (calib0 + calibrate()) / 2,
          "fail_frac" -> failFrac)
        PerLayer.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
      }
    val body = metrics.map { case (n, x, u) =>
      val num = if (x.isNaN || x.isInfinite) "0.0" else x.toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$body}}""")
    spark.stop()
  }

  private def layerMetrics(at: Attribution, spans: Seq[Span],
      ops: Seq[OpRec], cores: Int): Map[String, Double] = {
    val n = math.max(1, ops.length).toDouble
    val byOp = ops.map(o => o.id -> o).toMap
    val jobs = at.jobs.values.asScala.toSeq.filter(j => byOp.contains(j.op))
    def sumL(js: Seq[JobRec])(f: JobRec => Long): Double = js.map(f).sum.toDouble
    def jobS(js: Seq[JobRec]): Double =
      js.filter(_.end >= 0).map(j => (j.end - j.start) / 1000.0).sum
    val jobsByOp = jobs.groupBy(_.op)
    val gaps = ops.map { o =>
      val iv = jobsByOp.getOrElse(o.id, Nil).filter(_.end >= 0)
        .map(j => (j.start, j.end))
      (o.endMs - o.startMs - Intervals.covered(iv, o.startMs, o.endMs)) / 1000.0
    }
    val planMs = at.plans.asScala.toSeq.filter { case (t, _) =>
      ops.exists(o => t >= o.startMs && t <= o.endMs)
    }.map(_._2).sum.toDouble
    val taskMs = sumL(jobs)(_.taskMs.get)
    val opWallMs = ops.map(o => o.endMs - o.startMs).sum.toDouble
    val spark = Map(
      "spark.jobs_per_op" -> jobs.length / n,
      "spark.stages_per_op" -> sumL(jobs)(_.stages.get) / n,
      "spark.tasks_per_op" -> sumL(jobs)(_.tasks.get) / n,
      "spark.driver_gap_s_per_op" -> gaps.sum / n,
      "spark.plan_ms_per_op" -> planMs / n,
      "spark.task_s_per_op" -> taskMs / 1000.0 / n,
      "spark.busy_frac" -> taskMs / math.max(1.0, opWallMs * cores),
      "spark.shuffle_mb_per_op" -> sumL(jobs)(_.shuffleBytes.get) / 1e6 / n,
      "spark.spill_mb_per_op" -> sumL(jobs)(_.spillBytes.get) / 1e6 / n,
      "spark.input_mb_per_op" -> sumL(jobs)(_.inputBytes.get) / 1e6 / n,
      "spark.output_mb_per_op" -> sumL(jobs)(_.outputBytes.get) / 1e6 / n)
    val byModule = jobs.groupBy(j =>
      if (modules.contains(j.module)) j.module else "other")
    val perModule = (modules :+ "other").flatMap { m =>
      val js = byModule.getOrElse(m, Nil)
      val unit = if (m == "streaming" || m == "catalog") "batch" else "op"
      Seq(s"$m.jobs_per_$unit" -> js.length / n, s"$m.job_s_per_$unit" -> jobS(js) / n)
    }.toMap
    val streaming = byModule.getOrElse("streaming", Nil)
    val selfs = Spans.selfTimes(spans).groupBy(_._1.name)
    val spanVals = spanMetrics.map { s =>
      val xs = selfs.getOrElse(s, Nil).map(_._2 / 1e9)
      s"${s}_s" -> (if (xs.isEmpty) 0.0 else xs.sum / xs.length)
    }.toMap
    spark ++ perModule ++ spanVals ++ Map(
      "streaming.read_mb_per_batch" -> sumL(streaming)(_.inputBytes.get) / 1e6 / n,
      "streaming.staged_mb_per_batch" -> sumL(streaming)(_.outputBytes.get) / 1e6 / n)
  }
}
