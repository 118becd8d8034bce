package graft.queries

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The session registry for derived data: the relations (and plans) that
  * several queries of one session share — the embedding family's
  * quantized corpus and trained models, the recall certificates, the dup
  * graph and its pair relation, the BPE trainer, the parquet tables'
  * inferred schemas — each built once per key and handed back on every
  * later ask.
  *
  * POLICY — derived data is always shared per session; [[clear]] is the
  * one way to isolate (the timing harnesses call it between queries
  * through `Harness.clearCaches`).
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
  * A derivation built from a table also keys on the table's file stamp
  * ([[graft.tables.Tables.fileStamp]]): the dup graph, its pair
  * relations and the BPE trainer key on `documents`, so a corpus
  * rewritten in place is a miss, not a stale graph.
  *
  * A table's schema (`table:<name>`, [[graft.tables.Tables.load]]) is
  * keyed on its file stamp — the sorted (path, length, mtime) of its leaf
  * files, so a rewritten table is inferred again — and on the session's
  * WHOLE conf snapshot.  Spark's parquet inference reads about a dozen
  * SQL confs (timestamp NTZ and nanos handling, binary-as-string,
  * int96-as-timestamp and schema merging among them) and the list moves
  * between Spark releases; a hand-picked subset could miss one and hand
  * back a schema inferred under another value, while the whole snapshot
  * can only cost a miss.
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

  /** Persisted RDDs registered by [[trackRdd]], held WEAKLY: an RDD no
    * plan reaches any more is still reclaimed by the ContextCleaner, and
    * [[clear]] unpersists the ones still alive. */
  private val rdds = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[RDD[_], java.lang.Boolean]()))

  /** One derivation name's counters since the last [[clear]]: asks
    * answered from the memo, builds, and the builds' summed wall time
    * (a nested build's time also counts in the build that asked). */
  final case class Stats(hits: Long, builds: Long, buildMs: Double) {
    def +(o: Stats): Stats = Stats(hits + o.hits, builds + o.builds, buildMs + o.buildMs)
  }

  private val stats = new ConcurrentHashMap[String, Stats]()

  private def count(name: String, st: Stats): Unit = { stats.merge(name, st, _ + _); () }

  /** The per-name counters since the last [[clear]]. */
  def report(): Map[String, Stats] = stats.asScala.toMap

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
    if (hit != null) { count(name, Stats(1, 0, 0)); hit.asInstanceOf[T] }
    else entries.synchronized {
      val again = entries.get(key)
      if (again != null) { count(name, Stats(1, 0, 0)); again.asInstanceOf[T] }
      else {
        val t0 = System.nanoTime()
        val built = build
        entries.put(key, built)
        count(name, Stats(0, 1, (System.nanoTime() - t0) / 1e6))
        built
      }
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

  /** Tracks an already persisted RDD (a lineage cut's row copies) for
    * [[clear]]. */
  def trackRdd(rdd: RDD[_]): Unit = { rdds.add(rdd); () }

  /** Unpersists every tracked persist and RDD (blocking = false, so an
    * in-flight reader finishes from lineage), empties the memo and resets
    * the counters. */
  def clear(): Unit = {
    val it = persisted.iterator()
    while (it.hasNext) {
      try it.next().unpersist(blocking = false)
      catch { case _: Throwable => () } // a stopped session has nothing to drop
      it.remove()
    }
    val cut = rdds.synchronized { val all = rdds.asScala.toList; rdds.clear(); all }
    cut.foreach { r =>
      try r.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }
    entries.clear()
    stats.clear()
  }
}
