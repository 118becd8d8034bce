package org.apache.spark.sql.graftshim

import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lineage truncation that KEEPS the physical layout — the one place
  * this library touches `private[sql]` Spark API, for one measured
  * reason.
  *
  * Iterative plans (the BPE rounds, the connected-components rounds)
  * must cut their lineage each round or Catalyst re-optimizes a
  * k-times-nested tree (measured 21 s → ~3 s at sf0.1 for the BPE
  * trainer).  The public cut — `createDataFrame(df.rdd, schema)` —
  * erases the child's partitioning and ordering, so EVERY round pays a
  * full re-shuffle + re-sort of data that is ALREADY hash-partitioned
  * and sorted by exactly the keys the next round needs (and `df.rdd`
  * additionally round-trips InternalRow → Row → InternalRow).
  *
  * The persisted form keeps row COPIES of the execution RDD at
  * MEMORY_AND_DISK deserialized under a layout-advertising LogicalRDD.
  * It truncates the plan to a leaf and registers zero CacheManager
  * entries: blocks are dropped by the ContextCleaner once the plan
  * objects are unreachable (SparkContext tracks persisted RDDs weakly),
  * the bounded-growth guarantee long-lived sessions need, or earlier by
  * whoever `track` hands the persisted RDD to.  Rows are
  * copied because the execution RDD yields reused UnsafeRow buffers —
  * caching them uncopied would alias every row in a partition to the
  * last one.  `_SER` was A/B'd and lost (d6 4.2 s vs 5.1 s): every
  * round re-reads its predecessor once, so per-read deserialization
  * costs more than footprint saves.  A CacheManager-free columnar
  * InMemoryRelation is slower too (t20 2.2–2.6 s row-copied vs
  * 2.9–3.6 s columnar at sf0.1, d6 a tie; SCALING.md "Lineage-cut
  * persist A/B").
  *
  * `LogicalRDD.fromDataset` is the `private[sql]` helper Spark's own
  * `Dataset.checkpoint` uses for precisely this: it wraps the execution
  * RDD in a LogicalRDD that advertises the executed plan's
  * `outputPartitioning`/`outputOrdering` (attribute ids rewritten to
  * the new output), so EnsureRequirements can elide the per-round
  * exchanges while the plan tree still truncates.
  *
  * Contract notes, all inherited from the callers' conf scopes:
  * construction stays action-free.  Building the execution RDD
  * launches no jobs with AQE off — callers already pin that; broadcast
  * subtrees still submit their futures exactly as under the public
  * cut. */
object PartitioningPreservingCut {
  /** The cut, persisted as row copies at MEMORY_AND_DISK (must spill,
    * not OOM): every caller's relation has several consumers (a round's
    * argmax and the next round), which an unpersisted cut would each
    * recompute from the top.  `track` receives the persisted RDD. */
  def cut(df: org.apache.spark.sql.DataFrame,
      track: org.apache.spark.rdd.RDD[_] => Unit): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    graft.RetiredConf.reject(ds.sparkSession, "spark.graft.cut.persist", "rdd")
    val rdd = ds.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    track(rdd)
    Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }
}
