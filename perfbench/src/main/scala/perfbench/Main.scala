package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run inside the JVM:
  *
  *   perfbench.Main --workload <dashboard|stream> --seed <n>
  *     --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <file>
  *
  * Sets up [[SetupRounds]] times (the median is the set-up time), runs the
  * workload, dumps the outputs the checker compares, and writes a raw record
  * (`--out`) of client spans, listener events when traced, machine load and
  * peak memory. All arithmetic on the record is done
  * by `bench/metrics.py`. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"))
  }

  /** Set-up runs this many times per run; the median is reported. */
  val SetupRounds = 5

  /** Serialises the raw record and the checker's inputs. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(path: String, text: String): Unit = Files.writeString(Paths.get(path), text): Unit

  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.file.transferTo", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process, from /proc/self/status. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Sum of the heap memory pools' peak usage since start. */
  def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val load = MachineLoad.start()
    val record: Map[String, Any] = o.workload match {
      case "dashboard" => Batch.dashboard(o)
      case "stream" => StreamRun.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val full = record ++ Map("workload" -> o.workload, "seed" -> o.seed,
      "seconds" -> o.seconds, "trace" -> o.trace,
      "machine" -> load.stop(), "peak_rss_mb" -> peakRssMb(), "peak_heap_mb" -> peakHeapMb())
    write(o.out, json.writeValueAsString(full))
  }
}

/** Machine CPU busy over the run from /proc/stat, minus this process's own
  * CPU time, so a run can say whether anything else was loading the box. */
final class MachineLoad private (busy0: Long, total0: Long, proc0: Long) {
  def stop(): Map[String, Any] = {
    val (busy1, total1) = MachineLoad.jiffies()
    val proc1 = MachineLoad.processCpuNs()
    val hz = 100.0 // USER_HZ
    Map("machine_cpu_s" -> (total1 - total0) / hz, "busy_cpu_s" -> (busy1 - busy0) / hz,
      "own_cpu_s" -> (proc1 - proc0) / 1e9, "machine_cores" -> MachineLoad.machineCores)
  }
}

object MachineLoad {
  def start(): MachineLoad = {
    val (b, t) = jiffies()
    new MachineLoad(b, t, processCpuNs())
  }

  lazy val machineCores: Int = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().count(l => l.startsWith("cpu") && !l.startsWith("cpu "))
    finally src.close()
  }

  /** (busy, total) jiffies over all cores: the first eight fields of the
    * aggregate line, idle and iowait counted as not busy. */
  def jiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val cols = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      val idle = cols(3) + cols(4)
      (cols.sum - idle, cols.sum)
    } finally src.close()
  }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
}
