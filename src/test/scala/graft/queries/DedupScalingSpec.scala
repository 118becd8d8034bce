package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Gates the committed SCALING.md appendix (produced by
  * DedupScalingSweep): the curves — dup-graph cache off and on — must be
  * present for the 1×/2×/4× sf0.1 composition, both growth exponents
  * must be sub-quadratic, and the cached composition must not be slower
  * than the uncached one at the largest size (the cache exists to SHARE
  * the dominant cost; if it stops paying, this fails loudly).  Wall-time
  * itself is asserted only in the sweep (min-of-2, load recorded) — this
  * spec pins the committed EVIDENCE so it cannot silently rot or drift
  * from the claim in d6/c1's scaladocs. */
class DedupScalingSpec extends AnyFunSuite {

  private lazy val lines: Seq[String] = {
    val p = java.nio.file.Paths.get("SCALING.md")
    assert(java.nio.file.Files.exists(p),
      "SCALING.md missing — run: sbt \"Test/runMain graft.queries.DedupScalingSweep\"")
    java.nio.file.Files.readAllLines(p).asScala.toSeq
  }

  private val Row =
    raw"\|\s*(\d)x\s*\|\s*([\d.]+)\s*\|\s*([\d.]+)\s*\|\s*([\d.]+)\s*\|.*".r

  private lazy val table: Map[Int, (Double, Double, Double)] = lines.collect {
    case Row(k, off, on, banded) => k.toInt -> (off.toDouble, on.toDouble, banded.toDouble)
  }.toMap

  test("all three curves present at 1x/2x/4x") {
    assert(table.keySet == Set(1, 2, 4), s"rows found: ${table.keySet}")
    assert(lines.exists(_.contains("cache off")) && lines.exists(_.contains("cache on")))
    assert(lines.exists(_.contains("banded")), "banded pair-source curve missing")
    assert(lines.exists(_.contains("DedupScalingSweep")), "regeneration recipe missing")
    assert(lines.exists(_.contains("Lineage-cut persist A/B")),
      "cut-persist A/B section missing — the default's evidence must stay committed")
  }

  test("wall-time growth exponent < 2 for every mode") {
    for ((mode, pick) <- Seq[(String, ((Double, Double, Double)) => Double)](
        "off" -> (_._1), "on" -> (_._2), "banded" -> (_._3))) {
      val w1 = pick(table(1)); val w4 = pick(table(4))
      val exp = math.log(w4 / w1) / math.log(4.0)
      assert(exp < 2.0, f"cache $mode: exponent $exp%.2f reached quadratic ($w1%.2f s → $w4%.2f s)")
    }
  }

  test("shared dup-graph cache still pays at 4x") {
    val (off4, on4, _) = table(4)
    assert(on4 <= off4 * 1.05,
      f"cached composition ($on4%.2f s) no longer beats uncached ($off4%.2f s) at 4x")
  }

  // --- regeneration safety: the sweep splices its fenced block and ---
  // --- leaves hand-written analysis untouched (it once clobbered it) ---

  test("committed SCALING.md carries the sweep's dedup-tier fence") {
    for (edge <- Seq("begin", "end"))
      assert(lines.exists(_.contains(s"<!-- sweep:dedup-tier:$edge")),
        s"fence sweep:dedup-tier:$edge missing — the sweep would refuse to " +
          "run rather than touch the hand-written sections")
    // the cut A/B is hand-written evidence now: no fence left to splice
    assert(!lines.exists(_.contains("<!-- sweep:cut-ab")),
      "a sweep:cut-ab fence remains, but no sweep owns it")
  }

  test("splice replaces only the fenced block") {
    val doc = "# title\n\nhand prose A\n\n" +
      DedupScalingSweep.fence("dedup-tier", "old numbers") +
      "\n\nhand prose B (the analysis the overwrite once destroyed)\n"
    val out = DedupScalingSweep.splice(doc, "dedup-tier", "new numbers").get
    assert(out.contains("new numbers") && !out.contains("old numbers"))
    assert(out.contains("hand prose A") && out.contains("hand prose B"))
    // idempotent shape: the result still splices
    assert(DedupScalingSweep.splice(out, "dedup-tier", "newer").get.contains("newer"))
  }

  test("splice returns None when the fence is absent") {
    assert(DedupScalingSweep.splice("no fences here", "dedup-tier", "x").isEmpty)
  }

  test("an existing file without the fence fails loudly instead of being clobbered") {
    val e = intercept[IllegalStateException](
      DedupScalingSweep.updatedDoc(Some("# hand-written analysis only\n"), "numbers"))
    assert(e.getMessage.contains("sweep:dedup-tier"), e.getMessage)
    // no file at all → a fresh skeleton carrying the one owned fence
    val fresh = DedupScalingSweep.updatedDoc(None, "numbers")
    assert(fresh.contains("numbers") &&
      DedupScalingSweep.splice(fresh, "dedup-tier", "x").isDefined)
    // an existing fenced file keeps its prose
    val doc = "prose\n\n" + DedupScalingSweep.fence("dedup-tier", "old") + "\n\nmore prose\n"
    val out = DedupScalingSweep.updatedDoc(Some(doc), "new")
    assert(out.contains("new") && !out.contains("old") && out.contains("more prose"))
  }
}
