package graft.queries

import graft.SparkSpec
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The session registry for derived data: nested builds on the one map,
  * one build per key under concurrent asks, and `clear()` reclaiming
  * both the memo and the tracked persists.  Shaping values in the key
  * are exercised by DupGraphCacheSpec and BandedHotBucketSpec. */
class DerivationsSpec extends SparkSpec {

  private val dir = "derivations-spec"

  test("a build that nests memo calls on the same registry returns") {
    Derivations.clear()
    // a 40-deep chain of nested builds: ConcurrentHashMap.computeIfAbsent
    // throws "Recursive update" as soon as one nested insert lands in a
    // bin that is still being computed, which a chain this deep all but
    // guarantees on a fresh map
    def chain(i: Int): DataFrame = Derivations.memo(spark, dir, s"link$i") {
      if (i == 0) spark.range(1).toDF() else chain(i - 1)
    }
    val top = chain(39)
    assert(Derivations.entries.size == 40)
    assert(Derivations.memo[DataFrame](spark, dir, "link39")(
      fail("rebuilt a memoized link")) eq top)
    Derivations.clear()
  }

  test("two threads asking for one key build it once and get the same object") {
    Derivations.clear()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val got = new Array[DataFrame](2)
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        start.await()
        got(i) = Derivations.memo(spark, dir, "shared") {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open while the other thread asks
          spark.range(3).toDF()
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(TimeUnit.SECONDS.toMillis(30)))
    assert(builds.get == 1, s"built ${builds.get} times")
    assert(got(0) != null && (got(0) eq got(1)))
    Derivations.clear()
  }

  test("clear() unpersists tracked persists and empties the registry") {
    Derivations.clear()
    val p = Derivations.memo(spark, dir, "persisted")(
      Derivations.persist(spark.range(10).toDF()))
    assert(p.count() == 10)
    assert(p.storageLevel != StorageLevel.NONE)
    assert(!Derivations.entries.isEmpty)
    Derivations.clear()
    assert(p.storageLevel == StorageLevel.NONE)
    assert(Derivations.entries.isEmpty)
  }
}
