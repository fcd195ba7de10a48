package graft

import java.util.concurrent.CountDownLatch

/** `core.withoutAqe` is refcounted per session: AQE is a per-session
  * conf, so one session's region must neither share a depth count
  * with another's nor restore another's saved value. */
class WithoutAqeSpec extends SparkTestBase {
  private val key = "spark.sql.adaptive.enabled"

  test("nested regions on two sessions each turn AQE off and each " +
      "restore their own value") {
    val a = spark
    val b = a.newSession()
    val before = a.conf.get(key)
    b.conf.set(key, "true")
    try {
      core.withoutAqe(a) {
        assert(a.conf.get(key) == "false")
        core.withoutAqe(b) {
          assert(a.conf.get(key) == "false")
          assert(b.conf.get(key) == "false")
        }
        assert(b.conf.get(key) == "true")
        assert(a.conf.get(key) == "false")
      }
      assert(a.conf.get(key) == before)
      assert(b.conf.get(key) == "true")
    } finally a.conf.set(key, before)
  }

  test("overlapping regions on two sessions: the last exit restores " +
      "its own session's saved value, not the first session's") {
    val a = spark
    val b = a.newSession()
    val before = a.conf.get(key)
    a.conf.set(key, "true")
    b.conf.set(key, "false")
    val bEntered = new CountDownLatch(1)
    val aExited = new CountDownLatch(1)
    val t = new Thread(() => core.withoutAqe(b) {
      bEntered.countDown()
      aExited.await()
    })
    try {
      core.withoutAqe(a) {
        t.start()
        bEntered.await()
      }
      // a left first, while b is still inside its region
      assert(a.conf.get(key) == "true")
      aExited.countDown()
      t.join()
      assert(b.conf.get(key) == "false")
    } finally {
      aExited.countDown()
      a.conf.set(key, before)
    }
  }
}
