package graft.queries

import graft.{SparkEntry, SparkSpec}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The session registry for derived data: nested builds on the one map,
  * one build per key under concurrent asks, `clear()` reclaiming the
  * memo, the tracked persists and the dedup tier's construction persists
  * and lineage cuts, and the per-name hit/build counters.  Shaping values
  * in the key are exercised by DupGraphCacheSpec and BandedHotBucketSpec,
  * the table entries by graft.tables.TableSchemaMemoSpec. */
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

  test("report() counts one build per table of q3 and a hit for every later load") {
    Derivations.clear()
    val q3 = SparkEntry.queries("q3_star_join_revenue")
    def tables = Derivations.report().filter(_._1.startsWith("table:"))
    q3(spark, sf()).collect()
    val once = tables
    q3(spark, sf()).collect()
    val twice = tables
    assert(once.keySet == Set("lineitem", "orders", "customer", "nation", "region")
      .map("table:" + _))
    once.foreach { case (name, st) =>
      assert(st.builds == 1 && st.buildMs > 0, s"$name after one run: $st")
      val loadsPerRun = st.hits + 1
      assert(twice(name) == st.copy(hits = 2 * loadsPerRun - 1), s"$name after two runs")
    }
    Derivations.clear()
    assert(Derivations.report().isEmpty)
  }

  test("clear() releases the dup graph's construction persists and lineage cuts") {
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    spark.catalog.clearCache()
    Derivations.clear()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Dedup.clusterLabels(spark, sf()).count() > 0)
    assert(!cacheManager.isEmpty, "the build registered no construction persist")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    Derivations.clear()
    assert(cacheManager.isEmpty, "clear() left CacheManager entries")
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"clear() left persistent RDDs $left")
  }
}
