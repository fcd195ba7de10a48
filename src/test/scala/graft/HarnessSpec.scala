package graft

import org.apache.spark.sql.functions._

/** The harness's measurement listener and its cache release, on the
  * shared test session. */
class HarnessSpec extends SparkTestBase {

  private def shuffling(): Unit =
    Harness.force(spark.range(0, 20000, 1, 4)
      .groupBy((col("id") % 97).as("k")).agg(sum("id").as("s")))

  test("listener counts jobs and shuffle-write bytes once the bus " +
      "drains, and reset zeroes both") {
    val l = new Harness.Listener
    spark.sparkContext.addSparkListener(l)
    try {
      shuffling()
      l.drain()
      val t = l.totals
      assert(t.jobs >= 1, s"jobs=${t.jobs}")
      assert(t.writeBytes > 0L, s"shuffle write bytes=${t.writeBytes}")
      assert(t.stages >= 1 && t.writeRecs > 0L)
      assert(l.jobs.length == t.jobs)
      l.reset()
      val z = l.totals
      assert(z.jobs == 0 && z.writeBytes == 0L && l.jobs.isEmpty)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("release leaves no persistent RDD behind") {
    spark.range(0, 1000).toDF("id").cache().count()
    spark.sparkContext.parallelize(1 to 100).persist().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Harness.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
