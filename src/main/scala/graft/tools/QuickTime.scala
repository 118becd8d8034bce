package graft.tools

/** Targeted query timer for local A/B iteration:
  *
  *   SPARK_GRAFT_CPUS=4 java -cp ... graft.tools.QuickTime \
  *     /root/testdata/sf0.1 s20_ivfpq_serving,c16_refresh_execution \
  *     [confKey=confValue ...]
  *
  * Runs each named query Bench-style (count + Harness.clearCaches
  * between runs, min-of-2 reported per query) under the given confs,
  * with each run's Janino compile count.
  * Diagnostic only — the committed numbers come from graft.Bench. */
object QuickTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val confs = args.drop(2).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Harness.session(cpus, confs.toSeq: _*)
    // SPARK_GRAFT_QT_TRACE=1: Bench's per-stage trace listener, so an A/B
    // can attribute wall time to stages vs driver-side gaps (guide §1.5).
    graft.Harness.traceStagesIf(spark, "SPARK_GRAFT_QT_TRACE")
    // SPARK_GRAFT_QT_JOBS=1: per-job wall + total job count, so an A/B can
    // attribute wall time to job-count overhead (broadcast builds, AQE
    // stages) vs in-job work (guide §1.5).
    if (sys.env.get("SPARK_GRAFT_QT_JOBS").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          private val desc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            t0.put(j.jobId, j.time): Unit
            val d = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
              .getOrElse("?")
            desc.put(j.jobId, d.take(90)): Unit
          }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val w = Option(t0.remove(j.jobId)).map(j.time - _).getOrElse(-1L)
            val d = Option(desc.remove(j.jobId)).getOrElse("?")
            System.err.println(s"[job] ${j.jobId} wall=${w}ms desc=$d")
          }
        })
    names.foreach { name =>
      val (ts, compiles) = (1 to 2).map { rep =>
        System.err.println(s"[rep] $name rep$rep")
        val c0 = graft.Harness.codegenCompiles()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir).count(): Unit
        val t = (System.nanoTime() - t0) / 1e9
        val compiled = graft.Harness.codegenCompiles() - c0
        graft.Harness.clearCaches(spark)
        (t, compiled)
      }.unzip
      println(f"[quicktime] $name%-28s min=${ts.min}%.2f s runs=${ts.map(t => f"$t%.2f").mkString(",")}" +
        s" compiles=${compiles.mkString(",")}")
    }
    spark.stop()
  }
}
