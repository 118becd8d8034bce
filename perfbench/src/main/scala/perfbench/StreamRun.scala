package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{Enrich, FileJsonSource}
import graft.stream.JobRunner

/** The stream workload: the reference consumer path through
  * `JobRunner.run` — `FileJsonSource` → `Enrich.enrich` → JSON file sink,
  * plus windowed counts, trend bursts and the hashed near-dup query off
  * the same lineage, console off, triggers back to back.
  *
  * Post files are staged beforehand (`<work>/stream/stage`, seeded content)
  * and one generator thread publishes them into the watched directory by
  * atomic rename, stamping each name with the time it was due:
  *
  *  1. capacity: `drain_rounds` rounds each publish `max_files_per_trigger`
  *     files at once and wait until every started query has processed
  *     them; the first round is JIT-cold and is not counted;
  *  2. latency: the remaining files are published one every `interval_ms`,
  *     an open loop at a fixed offered rate below capacity.
  *
  * Latency (due time → commit of the sink batch holding the post) is read
  * afterwards from the sink's `_spark_metadata` log by `bench/metrics.py`. */
object StreamRun {
  private final case class Plan(drainRounds: Int, rateFiles: Int, postsPerFile: Int,
      intervalMs: Long, maxFilesPerTrigger: Int) {
    def backlogFiles: Int = drainRounds * maxFilesPerTrigger
  }

  private def plan(work: String): Plan = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$work/stream/plan.properties")
    try p.load(in) finally in.close()
    Plan(p.getProperty("drain_rounds").toInt, p.getProperty("rate_files").toInt,
      p.getProperty("posts_per_file").toInt, p.getProperty("interval_ms").toLong,
      p.getProperty("max_files_per_trigger").toInt)
  }

  private def config(dir: String): JobRunner.Config = JobRunner.Config(
    outputPath = s"$dir/out", checkpointPath = s"$dir/ckpt",
    fileTrigger = Trigger.ProcessingTime(0L), withConsole = false,
    withWindowedCounts = true, withBursts = true, withNearDups = true)

  /** Blocks until every query has run its first trigger and is idle. */
  private def awaitIdle(queries: Seq[StreamingQuery]): Unit =
    while (!queries.forall(q => q.status.message == "Waiting for data to arrive")) {
      queries.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(5)
    }

  /** Publishes a staged file into the watched directory; its name carries
    * its index and the epoch millisecond it was due. */
  private def publish(stage: File, in: File, index: Int, dueMs: Long): Unit = {
    val src = new File(stage, f"posts-$index%06d.json").toPath
    Files.setLastModifiedTime(src, FileTime.fromMillis(System.currentTimeMillis()))
    Files.move(src, new File(in, f"posts-$index%06d-$dueMs.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def run(o: Main.Opts): Map[String, Any] = {
    val p = plan(o.work)
    val root = s"${o.work}/stream"
    val stage = new File(s"$root/stage")
    var spark: SparkSession = null
    var running: JobRunner.Running = null
    var dir = ""
    var constructMs = 0.0
    // set-up: session, then JobRunner.run on an empty directory until every
    // query has planned and run its first trigger
    val setupS = (0 until Main.SetupRounds).map { rep =>
      if (running != null) { running.stopAll(); spark.stop() }
      dir = s"$root/rep$rep"
      new File(s"$dir/in").mkdirs()
      val t0 = System.nanoTime()
      spark = Main.session(o.work)
      val c0 = Main.nowMs()
      running = JobRunner.run(spark, FileJsonSource(s"$dir/in", p.maxFilesPerTrigger), config(dir))
      constructMs = Main.nowMs() - c0
      awaitIdle(running.queries)
      (System.nanoTime() - t0) / 1e9
    }
    val tracer = if (o.trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streaming)
    }
    val in = new File(s"$dir/in")
    val queries = running.queries
    // 1. capacity: rounds of one trigger's worth of files, drained by every query
    val rounds = (0 until p.drainRounds).map { r =>
      val start = Main.nowMs()
      (0 until p.maxFilesPerTrigger).foreach { i =>
        publish(stage, in, r * p.maxFilesPerTrigger + i, start.toLong)
      }
      queries.foreach(_.processAllAvailable())
      Map("start_ms" -> start, "end_ms" -> Main.nowMs())
    }

    // 2. latency: open loop at the fixed rate
    val published = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val rateStart = System.currentTimeMillis() + 20
    val generator = new Thread(() => {
      (0 until p.rateFiles).foreach { k =>
        val due = rateStart + k * p.intervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val index = p.backlogFiles + k
        publish(stage, in, index, due)
        published.add(Map("file" -> index, "due_ms" -> due, "published_ms" -> Main.nowMs()))
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    queries.foreach(_.processAllAvailable())
    val rateEnd = Main.nowMs()
    val errors = queries.flatMap(q => q.exception.map(e => s"${q.name}: ${e.getMessage.take(300)}"))
    running.stopAll()

    // the checker's batch reference: Enrich.enrich over every tenth file
    val sample = in.listFiles().map(_.getPath).sorted
      .zipWithIndex.collect { case (f, i) if i % 10 == 0 => f }
    spark.sparkContext.setJobGroup("check", "check")
    Enrich.enrich(spark.read.schema(graft.schema.Schemas.postSchema).json(sample.toSeq: _*))
      .select(col("user"), col("sentiment_score"), col("sentiment_label"), col("hashtags"))
      .coalesce(1).write.mode("overwrite").json(s"${o.work}/results/stream_sample")
    spark.stop()
    Map("setup_s" -> setupS, "construct_ms" -> constructMs, "dir" -> dir, "posts_per_file" -> p.postsPerFile,
      "backlog_files" -> p.backlogFiles, "rate_files" -> p.rateFiles,
      "interval_ms" -> p.intervalMs, "files_per_round" -> p.maxFilesPerTrigger,
      "drain_rounds" -> rounds,
      "rate" -> Map("start_ms" -> rateStart.toDouble, "end_ms" -> rateEnd),
      "published" -> published.toArray.toSeq, "errors" -> errors,
      "queries" -> queries.map(_.name),
      "events" -> tracer.map(_.drain()).getOrElse(Nil))
  }
}
