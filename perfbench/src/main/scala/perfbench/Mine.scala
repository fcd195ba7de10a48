package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.catalog.{PackageRow, TxLog}
import graft.streaming.{Frontier, FrontierStream}

/** `mine`: one operation is one `FrontierStream.processBatch` tick
  * batch (claim → visit → map → catalog merge, state committed
  * O(delta)) over a self-sustaining synthetic registry: every index
  * page links the next page plus 8-24 leaf artifacts. Set-up
  * bulk-seeds the frontier in batch 0, with state partitions sized
  * rows/31 (the per-partition row target the frontier's sized
  * partition policy uses).
  *
  * The seed varies each index page's fanout (8-24 leaves, so the work
  * per batch) and the bulk-seed size (300-360 rows, the frontier's
  * size against the bounded claim/map heads). Fanout varies per page,
  * not per run, so runs on different seeds do comparable work. */
final class Mine(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  private val seedRows = 300 + new Random(seed).nextInt(61)
  private val maxFanout = 24
  private val parts = math.max(8, seedRows / 31)
  private var stateRoot: File = _
  private var catRoot: File = _
  private var batch = 0L
  private var catRows0 = 0L

  private def sink = FrontierStream.CatalogSink(catRoot.getPath,
    Mine.toPackages, () => Mine.emptyCatalog(spark),
    vacuumEvery = 4, vacuumGraceMs = 0L)

  private def process(seeds: DataFrame): Unit = {
    FrontierStream.processBatch(spark, seeds, batch, stateRoot.getPath,
      Mine.visitor(seed), batchSize = maxFanout + 20,
      mapper = Some(Mine.mapper), catalog = Some(sink),
      statePartitions = parts)
    batch += 1
  }

  private def catalog: DataFrame =
    TxLog.readDelta(spark, catRoot.getPath, Mine.emptyCatalog(spark))._2

  def setup(root: File): Unit = {
    stateRoot = new File(root, "state")
    catRoot = new File(root, "catalog")
    batch = 0L
    process(("https://reg.example/page-0/index" +:
      (0 until seedRows).map(i => s"https://bulk.example/s$seed/art-$i"))
      .toDF("value"))
  }

  override def opsPerRound: Int = 3

  def op(): Long = {
    process(Seq("tick").toDF("value"))
    0L
  }

  override def beforeTimed(): Unit = catRows0 = catalog.count()
  override def rowsAfterRun(): Long = catalog.count() - catRows0

  def check(): Seq[String] = {
    val mapped = FrontierStream.packages(spark, stateRoot.getPath)
      .select("uri").distinct().as[String].collect().toSet
    val urls = catalog.select("download_url").as[String].collect()
    val merged = urls.toSet
    Seq(
      if (urls.length == merged.size) None
      else Some(s"mine: ${urls.length - merged.size} URIs merged more than once"),
      if (mapped.nonEmpty) None else Some("mine: nothing was mapped"),
      if (mapped == merged) None
      else Some(s"mine: catalog != mapped set (${(mapped -- merged).size} " +
        s"mapped not merged, ${(merged -- mapped).size} merged not mapped)")
    ).flatten
  }

  def roots: Seq[File] = Seq(stateRoot, catRoot)

  override def gauges(): Map[String, Double] = Map(
    "streaming.frontier_rows" ->
      FrontierStream.currentFrontier(spark, stateRoot.getPath).count().toDouble,
    "catalog.rows" -> catalog.count().toDouble,
    "catalog.data_dirs" ->
      Option(new File(catRoot, "data").list()).map(_.length).getOrElse(0).toDouble)
}

object Mine {
  def emptyCatalog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[PackageRow].toDF()
  }

  /** Index page n links page n+1 and 8-24 leaves (a hash of the seed
    * and n); leaves link nothing. Captures only `seed`, so it
    * serializes to executors. */
  def visitor(seed: Long): Frontier.Visitor = uri => {
    "page-(\\d+)/index$".r.findFirstMatchIn(uri) match {
      case Some(g) =>
        val n = g.group(1).toInt
        val base = uri.stripSuffix(s"page-$n/index")
        val fanout = 8 + new Random(seed * 7919 + n).nextInt(17)
        s"${base}page-${n + 1}/index" +:
          (0 until fanout).map(i => s"${base}page-$n/art-$i")
      case None => Seq.empty
    }
  }

  val mapper: String => Seq[String] = uri => Seq("pkg::" + uri)

  val toPackages: DataFrame => DataFrame = df => {
    import df.sparkSession.implicits._
    df.select("uri", "package_data").as[(String, String)]
      .map { case (uri, pd) =>
        PackageRow.minimal(uri, "maven", pd.stripPrefix("pkg::"),
          Some("1.0"), miningLevel = 50)
      }
      .toDF().withColumn("visit_level", lit(50))
  }
}
