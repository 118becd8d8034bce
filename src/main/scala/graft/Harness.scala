package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The pieces the harness mains share (graft.Bench, Verify, PlanAudit,
  * StreamBench, graft.tools.QuickTime and the sweeps), stated once so
  * their sessions and numbers stay comparable. */
object Harness {

  /** A harness session: the graft extensions, `local[cpus]` with as many
    * shuffle partitions, no UI, WARN logs, plus the caller's `confs`.
    *
    * `spark.file.transferTo=false` is the r14 local[32] scaling
    * pathology, root-caused (r15): shuffle map tasks under the
    * bypass-merge writer concatenate their per-partition files via
    * FileChannel.transferTo, whose trusted-channel path mmaps the source
    * — 32 executor THREADS in one JVM doing concurrent mmap/munmap
    * serialize on the process-wide mm lock and storm TLB-shootdown IPIs
    * (thread dump: 32/33 workers RUNNABLE in FileChannelImpl.map0/unmap0;
    * c1 120 s at local[32] vs 3.5 s at local[4], 11 % CPU busy).
    * Stream-copy instead: the kernel page cache still short-circuits the
    * I/O, no mm churn.  A real cluster runs executors as separate
    * PROCESSES (each its own mm), so this is a wide-single-JVM deployment
    * note, not a plan property — SCALING.md "local[32] pathology". */
  def session(cpus: String, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.file.transferTo", "false")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops everything a timed run can leave warm for the next one: the
    * CacheManager entries (`persist()` of an intermediate, keyed by
    * canonicalized plan), the session registry of derived data
    * (`graft.queries.Derivations`: its memo, the table schemas, the
    * tracked persists and the lineage-cut RDDs), and any other RDD-level
    * persist, which the CacheManager does not track and whose
    * MEMORY_AND_DISK blocks would otherwise pile up and pressure later
    * timings. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.queries.Derivations.clear()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Janino compiles so far in this JVM (driver and, at local[N], task
    * threads): a run's delta is the codegen it paid for. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** With `envVar=1`, logs each completed stage's scheduling shape to
    * stderr as a `[trace]` line (tasks, stage wall, task time, GC, CPU),
    * so an A/B can separate executor-side time from driver-side gaps. */
  def traceStagesIf(spark: SparkSession, envVar: String): Unit =
    if (sys.env.get(envVar).contains("1"))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wall = for {s <- i.submissionTime; c <- i.completionTime} yield c - s
          System.err.println(s"[trace] stage ${i.stageId} '${i.name.takeWhile(_ != '\n').take(60)}' " +
            s"tasks=${i.numTasks} wall=${wall.getOrElse(-1L)}ms " +
            s"taskTime=${i.taskMetrics.executorRunTime}ms " +
            s"gc=${i.taskMetrics.jvmGCTime}ms " +
            s"cpuMs=${i.taskMetrics.executorCpuTime / 1000000}")
        }
      })
}
