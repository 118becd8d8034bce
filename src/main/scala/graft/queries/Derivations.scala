package graft.queries

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session registry for derived data: the relations (and plans) that
  * several queries of one session share — the embedding family's
  * quantized corpus and trained models, the recall certificates, the dup
  * graph and its pair relation, the BPE trainer — each built once per
  * key and handed back on every later ask.
  *
  * KEYING RULE — a derivation's key is (session, dataset dir, name, the
  * values of the confs that change what the build returns).  A conf that
  * changes what a derivation returns goes in its key, so flipping it
  * mid-session builds afresh instead of handing back the plan built
  * under the old value: raising `spark.graft.cc.rounds` after a
  * fixpoint-guard failure, or `spark.graft.dedup.maxBucket` after a
  * hot-bucket failure, must yield a plan that can pass.  A conf that only
  * changes physical layout stays out: `spark.graft.scan.spreadBytes`
  * decides how a small scan spreads over partitions, never which rows it
  * returns, so keying on it would only split one derivation in two.
  *
  * Strong session refs are intentional (a library-lifetime cache);
  * [[clear]] drops them — tests, the timing harnesses and long-lived
  * services call it between runs. */
private[graft] object Derivations {

  /** The memo: (session, dir, name, shaping values) → the built value.
    * Package-visible so specs can count a derivation's entries. */
  private[queries] val entries =
    new ConcurrentHashMap[(SparkSession, String, String, Seq[Any]), AnyRef]()

  /** Persists registered by [[persist]], unpersisted by [[clear]]. */
  private val persisted = ConcurrentHashMap.newKeySet[DataFrame]()

  /** The derivation `name` over `dir`, built at most once per key.
    *
    * NOT computeIfAbsent: builds NEST (s15's stale assignment builds via
    * the memoized quantized corpus and trained centroids, the dup-graph
    * labels via the memoized pair relation), and
    * ConcurrentHashMap.computeIfAbsent throws IllegalStateException
    * ("Recursive update") whenever a nested insert lands in the
    * in-progress bin — which depends on the session's identity hash, so
    * it fails nondeterministically per JVM.  A double-checked block on
    * the map's monitor is reentrant for the building thread, so nested
    * builds are always safe, and a second thread asking for the same key
    * waits for the first build instead of running its own. */
  def memo[T <: AnyRef](s: SparkSession, dir: String, name: String, shaping: Any*)
      (build: => T): T = {
    val key = (s, dir, name, shaping.toList)
    val hit = entries.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else entries.synchronized {
      val again = entries.get(key)
      if (again != null) again.asInstanceOf[T]
      else { val built = build; entries.put(key, built); built }
    }
  }

  /** Persists `df` (MEMORY_AND_DISK — must spill, not OOM) and tracks it
    * for [[clear]].  These persists live inside LAZY returned plans, so
    * the builder cannot unpersist after "the" action — the caller owns
    * the action. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted.add(p)
    p
  }

  /** Unpersists every tracked persist (blocking = false, so an in-flight
    * reader finishes from lineage) and empties the memo.  The dedup
    * tier's lineage-cut persists (`Dedup.constructionPersist`) are not
    * tracked: they stay registered in the session's CacheManager until
    * `spark.catalog.clearCache()`, which `graft.Harness.clearCaches`
    * also runs. */
  def clear(): Unit = {
    val it = persisted.iterator()
    while (it.hasNext) {
      try it.next().unpersist(blocking = false)
      catch { case _: Throwable => () } // a stopped session has nothing to drop
      it.remove()
    }
    entries.clear()
  }
}
