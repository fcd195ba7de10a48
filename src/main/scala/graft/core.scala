package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers used by every query in the registry.
  *
  * Oracle-determinism conventions (the driver hash-compares our parquet
  * output against DuckDB running [[SparkEntry.oracleSql]] on the same
  * tables):
  *
  *   - Money/measure columns in the synthetic tables are 2-decimal
  *     doubles. Accumulating doubles is order-dependent, so sums would
  *     not be bit-identical across engines. We convert to exact integer
  *     "cents" (`CAST(ROUND(x*100) AS BIGINT)`), do all arithmetic in
  *     integers, and convert to DOUBLE with a single final division —
  *     one IEEE op with identical operands is deterministic everywhere.
  *     (x*100 can never land exactly on .5 for a binary float, since
  *     (2k+1)/200 has a factor 5^2 in the denominator, so ROUND
  *     half-up vs half-away never diverges.)
  *   - Every query ends in an explicit orderBy mirrored by an ORDER BY
  *     in the oracle SQL, with a unique tiebreak column, so the emitted
  *     row order is deterministic on both sides.
  *   - Aggregate/computed columns are aliased identically on both sides
  *     (the driver sorts columns by name before hashing).
  */
object core {
  /** Read one synthetic table from the scale-factor directory.
    *
    * `events.ts` has shipped in two encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read nanos as long via
    * spark.sql.legacy.parquet.nanosAsLong and rebuild; the data is
    * µs-precision so ns→µs truncation is lossless) and plain
    * TIMESTAMP(MICROS) without UTC adjustment (arrives as
    * TIMESTAMP_NTZ). Both are normalized to session-zone TimestampType
    * here — the session runs UTC, so the NTZ cast is value-preserving
    * and every downstream query sees one stable ts type matching
    * DuckDB's view of the column.
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = s.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else {
      s.read.parquet(s"$dir/$name.parquet")
    }
  }

  /** Spread a frame across the session's shuffle parallelism before
    * EXPENSIVE per-row compute (hashing, shingling, codecs). The
    * synthetic tables are single-row-group parquet files, so the scan
    * is ONE input partition and everything fused into the scan stage
    * runs on one core; one small round-robin shuffle of the raw rows
    * buys full-width parallelism for the compute that follows. At
    * cluster scale inputs arrive already split (many files/row
    * groups) and this would be a no-op-sized shuffle — so SKIP it
    * when the input already carries at least session parallelism:
    * pre-split inputs (many files/row groups) pass through with no
    * gratuitous round-trip. The partition count comes from the
    * planned RDD lineage (no job runs); it must only be applied where
    * the downstream per-row work dominates the shuffle cost. */
  /** (semanticHash of the analyzed plan, shuffle-partition target) →
    * planned partition count. `df.rdd` pays a full physical-planning
    * pass (then thrown away — only the partition count is read), and
    * the same frames are re-planned on every bench pass and on every
    * action of multi-action queries; the decision is a pure function
    * of the (immutable) input files and the session parallelism, so
    * memoizing it removes a duplicated Catalyst pass per call. Keyed
    * on the analyzed plan's semantic hash: a different scale-factor
    * dir or artifact path changes the scan relation and therefore the
    * key. Bounded: one entry per distinct scanned frame (~dozens). */
  private val parMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Int]()

  def par(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    val key = (df.queryExecution.analyzed.semanticHash(), target)
    val n = parMemo.computeIfAbsent(key, _ => df.rdd.getNumPartitions)
    if (n >= target) df
    else df.repartition(target)
  }

  /** Label every Spark job triggered inside `f` (guide §1.5): the
    * multi-job lifecycle operators (artifact save → ingest → delete,
    * CC fixpoints, Lloyd iterations) are unreadable in the UI and in
    * listener-based probes without per-phase descriptions. Restores
    * the previous description on exit so nested labels compose. */
  def labeled[T](s: SparkSession, desc: String)(f: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f
    finally sc.setJobDescription(prev)
  }

  /** Run `f` with adaptive query execution disabled, restoring the
    * previous setting on exit (nesting-safe). For artifact STAGING
    * WRITES only: those plans are a scan → explicit bucket
    * repartition → write, with no joins to re-strategize and a
    * partitioning that IS the on-disk layout (one file per bucket),
    * so AQE has nothing to improve — but it still materializes every
    * shuffle stage as its own job, turning a 1-job write into 2-5
    * driver round-trips (the per-job traces in OPTIMIZATION_r13.md §10
    * show the lifecycle queries spending their wall on exactly these
    * barriers; at cluster scale each is a full scheduling round per
    * commit).
    * Session conf is shared across threads, so the toggle wraps the
    * whole inParallel write batch, never an individual thunk, and
    * nothing else may run on the session between set and restore
    * (true for every store call site: the batch is the only live
    * work). NOT for general queries — AQE's runtime broadcast
    * conversion is what keeps iterative-join loops cheap (the r13
    * fixpoint A/B that measured 3-10× worse without it). */
  private val aqeOff =
    scala.collection.mutable.Map.empty[SparkSession, (Int, String)]

  def withoutAqe[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    // Refcounted per session (ADVICE r13/r14): two overlapping calls on
    // different threads (a streaming staging batch racing an ad-hoc
    // store op) could interleave set/restore and leave AQE off for the
    // whole session. The FIRST caller entering on a session saves its
    // live value and disables; the LAST caller leaving that session
    // restores it — nested and concurrent batches compose, and sessions
    // never share a count or a saved value. (A query compiling on an
    // unrelated thread of the same session DURING a batch still sees
    // AQE off — inherent to session-level conf and acceptable for the
    // store-commit call sites, where the batch is normally the only
    // live work.)
    aqeOff.synchronized {
      val (depth, saved) = aqeOff.getOrElse(s, (0, s.conf.get(key, "true")))
      if (depth == 0) s.conf.set(key, "false")
      aqeOff(s) = (depth + 1, saved)
    }
    try f
    finally aqeOff.synchronized {
      val (depth, saved) = aqeOff(s)
      if (depth == 1) { aqeOff.remove(s); s.conf.set(key, saved) }
      else aqeOff(s) = (depth - 1, saved)
    }
  }

  /** Run independent Spark actions concurrently from a small thread
    * pool (guide §2.6 "overlap independent jobs"): an artifact commit
    * stages several tables (centroids, books, cells, codes; bands,
    * shingles, labels) whose writes have no dependency on each other,
    * and running them sequentially leaves the cluster idle through
    * each write's scheduling tail. Each task gets its own job
    * description (thread-local, so labels stay correct). Exceptions
    * propagate with their original type. Staging writes land in
    * separate directories, and the artifact-log commit happens
    * strictly AFTER this returns, so concurrency never changes commit
    * semantics. */
  def inParallel(s: SparkSession, tasks: (String, () => Unit)*): Unit =
    if (tasks.lengthCompare(1) <= 0) tasks.foreach(_._2())
    else {
      val pool =
        java.util.concurrent.Executors.newFixedThreadPool(tasks.length)
      try {
        val futs = tasks.map { case (desc, f) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = labeled(s, desc)(f())
          })
        }
        futs.foreach { fu =>
          try fu.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** Run ONE independent Spark action on a background thread while the
    * caller's driver-blocking chain proceeds (guide §2.6, the
    * inParallel idea started EARLY instead of batched at the end): an
    * artifact staging write that depends only on already-available
    * frames can overlap the serial collect chain that computes the
    * rest of the commit. Returns a join function that rethrows the
    * task's failure with its original type — the caller MUST invoke it
    * before committing anything that assumes the write landed. */
  def async[T](s: SparkSession, desc: String)(f: => T): () => T = {
    val task = new java.util.concurrent.FutureTask[T](
      new java.util.concurrent.Callable[T] {
        def call(): T = labeled(s, desc)(f)
      })
    val t = new Thread(task, s"graft-async-$desc")
    t.setDaemon(true)
    t.start()
    () =>
      try task.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
  }

  /** Start materializing a CACHED frame on a background thread while
    * the caller runs independent driver-blocking work (an iterative
    * fixpoint loop, another training pass) — guide §2.6 applied
    * inside one query: the final plan that consumes `df` finds its
    * cache warm instead of paying the subplan after the loop. The
    * caller must `join()` the returned thread before its final frame
    * escapes the query body. Failures are swallowed here — a cold or
    * partially-warm cache only means the terminal action computes the
    * subplan itself and surfaces any real error deterministically. */
  def warmAsync(s: SparkSession, desc: String, df: DataFrame): Thread = {
    val t = new Thread(() =>
      try labeled(s, desc) { df.count(); () }
      catch { case _: Throwable => () })
    t.setDaemon(true)
    t.start()
    t
  }

  /** Exact integer cents: CAST(FLOOR(x*100 + 0.5) AS BIGINT).
    * floor(+0.5) rather than round(): the double product can land
    * exactly on .5, where Spark rounds HALF_UP but DuckDB ties-to-even;
    * floor(+0.5) is the identical IEEE op sequence in both engines. */
  def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  def asDouble(c: Column): Column = c.cast("double")
}
