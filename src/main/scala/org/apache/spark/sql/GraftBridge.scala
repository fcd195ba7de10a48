package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's package-private Column ↔ Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so graft's custom
  * Catalyst expressions can be exposed as user-facing Columns without
  * going through the SQL parser.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a hand-constructed logical plan (used by
    * graft's custom operators, e.g. ApproxHammingJoin). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** A clone of `s` with adaptive execution off: its conf, temp views,
    * functions and query-execution listeners are copied at the call,
    * and it shares `s`'s cache. */
  def aqeOffClone(s: SparkSession): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession].cloneSession()
    c.sessionState.conf.setConf(
      internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    c
  }

  /** Eager local checkpoint that also RETURNS the row count of the
    * materialization. `Dataset.localCheckpoint(eager = true)` runs an
    * internal `rdd.count()` and throws the number away, so iterative
    * fixpoint loops that need per-round emptiness/progress checks
    * (BFS frontiers, star rounds) pay a second whole job per round
    * for a number Spark already computed. Mirrors the checkpoint
    * implementation exactly: copy rows (toRdd reuses row objects),
    * mark for local checkpoint, count (which materializes), then wrap
    * the materialized RDD as a LogicalRDD leaf via the same
    * `fromDataset` the built-in path uses — lineage truncation and
    * block-manager behavior identical to `localCheckpoint(true)`.
    * The materializing job runs under the source Dataset's own SQL
    * execution id (like the built-in `withAction` path), so it is
    * visible to the SQL UI and QueryExecutionListener metrics;
    * streaming-ness is taken from the source, not hardcoded. */
  def localCheckpointWithCount(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val cnt = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(ds.queryExecution, Some("localCheckpointWithCount")) {
        rdd.count()
      }
    val logical = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, ds, isStreaming = ds.isStreaming)
    (classic.Dataset.ofRows(ds.sparkSession, logical), cnt)
  }

  /** [[localCheckpointWithCount]] that additionally folds a
    * SUM(long column at `sumOrdinal`) into the SAME materializing job.
    * For monotonic fixpoint loops whose convergence check is the
    * (count, sum) signature (GraphOps.topoOrder): the built-in shape
    * pays checkpoint-materialize + a separate aggregate job per round;
    * this computes both in the one pass Spark already makes over the
    * rows. Null cells contribute 0, matching `sum(col)`'s null-skip. */
  def localCheckpointWithCountSum(df: DataFrame, sumOrdinal: Int)
      : (DataFrame, Long, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val partials = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(ds.queryExecution,
        Some("localCheckpointWithCountSum")) {
        ds.sparkSession.sparkContext.runJob(rdd,
          (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
            var c = 0L
            var s = 0L
            while (it.hasNext) {
              val r = it.next()
              c += 1L
              if (!r.isNullAt(sumOrdinal)) s += r.getLong(sumOrdinal)
            }
            (c, s)
          })
      }
    val logical = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, ds, isStreaming = ds.isStreaming)
    (classic.Dataset.ofRows(ds.sparkSession, logical),
      partials.map(_._1).sum, partials.map(_._2).sum)
  }
}
