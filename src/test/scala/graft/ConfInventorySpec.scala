package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The `spark.graft.*` knob inventory, pinned: every key the main
  * sources mention (code or comment) is either one of the live keys
  * below or a retired key named only where it is rejected.  Adding,
  * dropping or renaming a knob therefore changes this list — a visible,
  * reviewed diff — and each live key must be documented in README.md.
  * Plain file scan, no Spark session. */
class ConfInventorySpec extends AnyFunSuite {

  private val LiveKeys = Set(
    "spark.graft.bpe.cache",
    "spark.graft.cc.rounds",
    "spark.graft.dedup.maxBucket",
    "spark.graft.dedup.minRecallBp",
    "spark.graft.dedup.pairs",
    "spark.graft.dedup.recallGuard",
    "spark.graft.dedup.recallSampleMod",
    "spark.graft.dupgraph.cache",
    "spark.graft.embed.minRecallBp",
    "spark.graft.embed.pairs",
    "spark.graft.embed.radius.maxCellMassBp",
    "spark.graft.embed.recallGuard",
    "spark.graft.embed.recallSampleMod",
    "spark.graft.overlap.tripleMinPairJaccardBp",
    "spark.graft.refresh.minBenefitBp",
    "spark.graft.refresh.minStalenessBp",
    "spark.graft.scan.spreadBytes")

  /** Retired keys: setting a removed value throws at these sites. */
  private val RetiredKeys = Set(
    "spark.graft.cut.persist",
    "spark.graft.bpe.apply",
    "spark.graft.decimal128",
    "spark.graft.jaccard.prefixFilter")

  private val Key = raw"spark\.graft\.[A-Za-z][A-Za-z0-9_.]*[A-Za-z0-9]".r

  /** (file, line number, line) for every line under src/main. */
  private lazy val mainLines: Seq[(String, Int, String)] = {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root (no $root)")
    val files = java.nio.file.Files.walk(root)
    try files.iterator.asScala.filter(p => p.toString.endsWith(".scala")).toSeq.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.map { case (l, i) =>
        (root.relativize(p).toString, i + 1, l)
      }
    } finally files.close()
  }

  private lazy val found: Set[String] =
    mainLines.flatMap { case (_, _, l) => Key.findAllIn(l) }.toSet

  test("the spark.graft keys in src/main are exactly the 17 live keys (plus the retired)") {
    assert(LiveKeys.size == 17)
    val live = found -- RetiredKeys
    assert(live == LiveKeys,
      s"unpinned keys: ${(live -- LiveKeys).toSeq.sorted}; " +
        s"pinned but gone: ${(LiveKeys -- live).toSeq.sorted}")
  }

  test("each live key is documented in README.md") {
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    val missing = LiveKeys.filterNot(readme.contains)
    assert(missing.isEmpty, s"README.md does not mention: ${missing.toSeq.sorted}")
  }

  test("retired keys appear only at their rejection sites") {
    val hits = mainLines.filter { case (_, _, l) => RetiredKeys.exists(l.contains) }
    val stray = hits.filterNot { case (_, _, l) => l.contains("RetiredConf.reject(") }
    assert(stray.isEmpty, "retired key outside a rejection: " +
      stray.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("; "))
    val rejected = hits.flatMap { case (_, _, l) => Key.findAllIn(l) }.toSet
    assert(rejected == RetiredKeys, s"retired keys without a rejection site: " +
      (RetiredKeys -- rejected).toSeq.sorted)
  }
}
