package graft.stream

import graft.pipeline.{FileJsonSource, KafkaSource, PostSource, RatePostSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Runnable streaming job — the engine's `spark_streaming_job.py::main`
  * (SURVEY.md §3.1): build a session, pick a source, start the concurrent
  * sinks, supervise until interrupted.
  *
  *   sbt "runMain graft.stream.StreamJob --input /data/in --output /data/out \
  *        --checkpoint /data/cp [--rate 5] [--kafka host:9092 topic] \
  *        [--console-trigger-sec 15] [--file-trigger-sec 30] \
  *        [--fresh] [--windowed] [--duration-sec 30]"
  *
  * Defaults mirror the reference's envelope (15 s console / 30 s file
  * triggers, append mode); `--fresh` reproduces its wipe-on-startup.
  */
object StreamJob {

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-stream")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      // stream-copy shuffle files: a wide local[*] JVM serializes on
      // concurrent mmap/munmap otherwise (Harness.session, SCALING.md
      // "local[32] pathology")
      .config("spark.file.transferTo", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(JobRunner.progressListener())

    val source: PostSource = (opts.get("kafka"), opts.get("rate")) match {
      case (Some(spec), _) =>
        val Array(bootstrap, topic) = spec.split("\\s+")
        KafkaSource(bootstrap, topic)
      case (_, Some(rps)) => RatePostSource(rps.toInt)
      case _ => FileJsonSource(opts.getOrElse("input",
        sys.error("need --input DIR (or --rate N / --kafka HOST TOPIC)")))
    }

    val running = JobRunner.run(spark, source, JobRunner.Config(
      outputPath = opts.getOrElse("output", "/tmp/graft-output"),
      checkpointPath = opts.getOrElse("checkpoint", "/tmp/graft-checkpoint"),
      consoleTrigger = Trigger.ProcessingTime(
        opts.getOrElse("console-trigger-sec", "15").toLong * 1000L),
      fileTrigger = Trigger.ProcessingTime(
        opts.getOrElse("file-trigger-sec", "30").toLong * 1000L),
      freshStart = opts.contains("fresh"),
      withWindowedCounts = opts.contains("windowed")))

    sys.addShutdownHook {
      // graceful stop (reference CSJ:197–204)
      running.stopAll()
    }
    opts.get("duration-sec") match {
      case Some(d) =>
        Thread.sleep(d.toLong * 1000L)
        // no processAllAvailable here: on an unbounded source (rate/kafka)
        // it would never return — stop drains the in-flight batch
        running.stopAll()
      case None => running.awaitAny()
    }
    spark.stop()
  }

  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case "--fresh" :: rest    => parse(rest, acc + ("fresh" -> "true"))
      case "--windowed" :: rest => parse(rest, acc + ("windowed" -> "true"))
      case "--kafka" :: host :: topic :: rest => parse(rest, acc + ("kafka" -> s"$host $topic"))
      case flag :: value :: rest if flag.startsWith("--") =>
        parse(rest, acc + (flag.drop(2) -> value))
      case other :: _ => sys.error(s"unexpected argument: $other")
    }
}
