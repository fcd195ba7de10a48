package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers used by every query in the registry: table reads
  * ([[t]]), input spreading ([[par]]), job labels ([[labeled]]) and
  * exact money arithmetic ([[cents]]). Caches, checkpoints, background
  * actions and AQE-off staging writes are scoped by [[Scope]].
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

  /** Exact integer cents: CAST(FLOOR(x*100 + 0.5) AS BIGINT).
    * floor(+0.5) rather than round(): the double product can land
    * exactly on .5, where Spark rounds HALF_UP but DuckDB ties-to-even;
    * floor(+0.5) is the identical IEEE op sequence in both engines. */
  def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  def asDouble(c: Column): Column = c.cast("double")
}
