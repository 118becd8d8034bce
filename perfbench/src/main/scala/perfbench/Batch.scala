package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The `dashboard` workload: one client runs one pass over the Relational,
  * Analytics and Pipeline packs in name order and `collect()`s each result,
  * never clearing the session.
  *
  * A run is exactly one pass, and that pass is JIT-cold: at the benchmark's
  * scale it takes longer than a run's `--seconds`, and a warm-up pass would
  * double the run. The figures are therefore those of a dashboard's first
  * pass after start, warm-up included. The order is fixed because, with a
  * seeded order, which queries paid the warm-up moved the median query
  * latency by ±15% between seeds.
  *
  * Each query's span runs from the call into `SparkEntry.queries(name)` to
  * the last row; its job group is the span id. */
object Batch {
  def dashboardQueries: Seq[String] =
    graft.SparkEntry.queries.keys.filter(_.matches("^[qaop][0-9].*")).toSeq.sorted

  /** Set up [[Main.SetupRounds]] times; the last session is kept for the run. */
  private def setup(o: Main.Opts): (Seq[Double], SparkSession) = {
    var spark: SparkSession = null
    val times = (0 until Main.SetupRounds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Main.session(o.work)
      spark.range(1).collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    (times, spark)
  }

  private def cacheState(spark: SparkSession): Map[String, Any] = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    Map("persisted_bytes" -> infos.map(i => i.memSize + i.diskSize).sum,
      "persisted_rdds" -> infos.length)
  }

  /** Runs one query inside its span, `collect()`ing the result; returns the
    * span record and, for the checker, the schema and rows. */
  private def runQuery(spark: SparkSession, o: Main.Opts, name: String)
      : (Map[String, Any], Option[(StructType, Array[Row])]) = {
    spark.sparkContext.setJobGroup(name, name)
    val start = Main.nowMs()
    try {
      val df = graft.SparkEntry.queries(name)(spark, o.data)
      val built = Main.nowMs()
      val rows: Array[Row] = df.collect()
      val end = Main.nowMs()
      (Map("name" -> name, "group" -> name, "start_ms" -> start,
        "construct_end_ms" -> built, "end_ms" -> end, "rows" -> rows.length),
        Some((df.schema, rows)))
    } catch {
      case e: Throwable =>
        (Map("name" -> name, "group" -> name, "start_ms" -> start,
          "end_ms" -> Main.nowMs(), "error" -> String.valueOf(e).take(300)), None)
    } finally spark.sparkContext.clearJobGroup()
  }

  def dashboard(o: Main.Opts): Map[String, Any] = {
    val (setupS, spark) = setup(o)
    val tracer = if (o.trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val names = dashboardQueries
    val start = Main.nowMs()
    val ran = names.map(runQuery(spark, o, _))
    val end = Main.nowMs()
    val cache = cacheState(spark)
    spark.stop()
    // the checker's inputs, written after the pass, outside every span
    names.zip(ran).foreach { case (name, (_, rows)) =>
      rows.foreach { case (schema, rs) =>
        Main.write(s"${o.work}/results/$name.json", Rows.render(schema, rs))
      }
    }
    Main.write(s"${o.work}/results/oracle_sql.json",
      Main.json.writeValueAsString(graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    Map("setup_s" -> setupS, "checked" -> names,
      "pass" -> Map("start_ms" -> start, "end_ms" -> end, "queries" -> ran.map(_._1), "cache" -> cache),
      "events" -> tracer.map(_.drain()).getOrElse(Nil))
  }
}
