package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every batch table read goes through `Tables.load`, whose schema memo
  * is what keeps repeat loads free of inference jobs: a parquet read by
  * path anywhere else in `src/main` would infer its schema on every call
  * again.  Plain file scan (whitespace-insensitive, so a chain split over
  * lines counts), no Spark session. */
class TableReadGuardSpec extends AnyFunSuite {

  private val Patterns = Seq(".read.parquet(", """.read.format("parquet")""")

  /** (path relative to src/main, text with all whitespace removed). */
  private lazy val mainFiles: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root (no $root)")
    val files = java.nio.file.Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.map { p =>
      root.relativize(p).toString ->
        java.nio.file.Files.readString(p).replaceAll("\\s+", "")
    } finally files.close()
  }

  private def count(text: String, pat: String): Int =
    java.util.regex.Pattern.quote(pat).r.findAllIn(text).size

  test("src/main reads parquet by path only inside Tables.load") {
    val hits = for {
      (file, text) <- mainFiles
      pat <- Patterns
      n = count(text, pat) if n > 0
    } yield (file, pat, n)
    val tables = "scala/graft/tables/Tables.scala"
    val stray = hits.filterNot { case (f, p, n) => f == tables && p == Patterns.head && n == 1 }
    assert(stray.isEmpty, "parquet read outside Tables.load: " +
      stray.map { case (f, p, n) => s"$f: $p x$n" }.mkString("; "))
    val text = mainFiles.collectFirst { case (`tables`, t) => t }.get
    val load = text.indexOf("defload(")
    val next = text.indexOf("def", load + 1)
    val at = text.indexOf(Patterns.head)
    assert(load >= 0 && load < at && at < next, "the one parquet read is not in Tables.load")
  }
}
