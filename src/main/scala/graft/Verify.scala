package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Registry manifest (round-14 verdict #2: s20 shipped with no oracle
    * row because the dump predated the commit — a stale artifact was
    * silently SHORTER instead of loudly wrong).  The dump now carries the
    * full `SparkEntry.queries` key set, so any checker can prove the
    * artifact covers the registry it claims to: a missing per-query dir
    * becomes a FAIL, not an absent row.  `filtered` marks local
    * SPARK_GRAFT_VERIFY_ONLY runs, where incompleteness is intentional. */
  def manifestJson(filtered: Boolean): String = {
    val names = SparkEntry.queries.keySet.toSeq.sorted
    names.map(n => "\"" + n + "\"")
      .mkString(s"""{"count":${names.size},"filtered":$filtered,"names":[""", ",", "]}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Harness.session(cpus, "spark.sql.session.timeZone" -> "UTC")
    new java.io.File(outDir).mkdirs()
    // Per-query watchdog: one hung query must not eat the whole round's
    // correctness gate.  Each query runs in its own job group; a timer
    // cancels the group at the deadline and the loop moves on (the failed
    // query shows as a missing dump = red row, everything else stays green).
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT", "240").toLong
    val timer = new java.util.Timer("verify-watchdog", true)
    // Optional local-iteration filter (comma-separated names); the driver
    // sets no filter and always dumps the full surface.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
      val task = new java.util.TimerTask {
        def run(): Unit = {
          System.err.println(s"[verify] $name exceeded ${timeoutSec}s — cancelling")
          spark.sparkContext.cancelJobGroup(name)
        }
      }
      timer.schedule(task, timeoutSec * 1000L)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        task.cancel(): Unit
        spark.sparkContext.clearJobGroup()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/queries.json"), manifestJson(only.isDefined))
    spark.stop()
  }
}
