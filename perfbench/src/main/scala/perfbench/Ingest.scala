package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** `ingest`: the write side of the pipeline, as three streams on one
  * session: the mining loop of [[Mine]] (frontier batch → map → catalog
  * merge) and the two index streams of [[Index]]. One operation is one
  * round of all three, one after the other on the driver thread: a
  * `mine` batch, then the MinHash and the IVF commit. Its latency is the
  * sum of the three, so a change to any stream moves it. Rounds
  * alternate ingest and takedown in the index stores (see [[Index]]).
  *
  * `mine` and `index` stay runnable on their own to isolate a layer;
  * the benchmark's listed workloads are `ingest` and `match`, because a
  * run's fixed cost (JVM and session start, three set-ups, checks) is
  * ~35 s of a ~55 s run on a 4-core host and a budget of 4 + 22 ×
  * workloads runs in 3420 s does not fit three workloads. The per-layer metrics
  * still separate the mining layers (`streaming`, `catalog`) from the
  * index stores (`ops`). */
final class Ingest(spark: SparkSession, seed: Long) extends Workload {
  private val mine = new Mine(spark, seed)
  private val index = new Index(spark, seed)
  // wall seconds per stream over the timed operations
  private var mineS = 0.0
  private var indexS = 0.0
  private var n = 0

  def setup(root: File): Unit = {
    mine.setup(new File(root, "mine"))
    index.setup(new File(root, "index"))
  }

  override def opsPerRound: Int = index.opsPerRound

  def op(): Long = {
    val t0 = System.nanoTime()
    val r = mine.op()
    mineS += Main.secs(t0)
    val t1 = System.nanoTime()
    val s = index.op()
    indexS += Main.secs(t1)
    n += 1
    r + s
  }

  override def beforeTimed(): Unit = {
    mineS = 0.0; indexS = 0.0; n = 0
    mine.beforeTimed()
    index.beforeTimed()
  }
  override def notes(): String =
    f"ingest op split: mine ${mineS / n}%.2fs, index ${indexS / n}%.2fs per op"
  override def rowsAfterRun(): Long = mine.rowsAfterRun() + index.rowsAfterRun()
  def check(): Seq[String] = mine.check() ++ index.check()
  def roots: Seq[File] = mine.roots ++ index.roots
  override def gauges(): Map[String, Double] = mine.gauges() ++ index.gauges()
}
