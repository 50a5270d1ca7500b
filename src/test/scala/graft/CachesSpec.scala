package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic

class CachesSpec extends SparkSpec {

  test("a frame persisted after Caches.clear raced its build is released") {
    // a fresh session: clear drops only its entries, not the shared
    // session's warm artifacts
    val fresh = spark.newSession()
    val entered = new CountDownLatch(1)
    val go = new CountDownLatch(1)
    val built = new AtomicReference[DataFrame]()
    val builder = new Thread(() => {
      built.set(Caches.memo(fresh, "caches-spec", "racing") {
        entered.countDown()
        go.await()
        fresh.range(7919).toDF("caches_spec_x")
      })
    }, "caches-spec-builder")
    builder.start()
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "the builder never started")
      Caches.clear(fresh)
    } finally go.countDown()
    builder.join(60000)
    val df = built.get()
    assert(df != null, "the builder did not return its frame")
    val cacheManager = fresh.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    assert(cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]]).isEmpty,
      "the frame stays in Spark's cache with no Caches entry to release it")
  }
}
