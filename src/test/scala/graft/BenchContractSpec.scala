package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the bench artifact's self-defense layer (round 16):
  * the watchdog deadline rule, the spike-retry predicate, and the new
  * JSON emitters — pure helpers, so they pin without a Spark session.
  * The r15 spike SHAPES are the fixtures: a deadline rule or predicate
  * regression that would have missed them fails here, not in a judge
  * re-run. */
class BenchContractSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("watchdog deadlines: canonical floor, scaling 10x clamped to [15, 90]") {
    assert(Bench.watchdogDeadlineS(None) == 90.0)           // canonical pass
    assert(Bench.watchdogDeadlineS(Some(0.5)) == 15.0)      // floor: wide-tax immunity
    assert(Bench.watchdogDeadlineS(Some(2.0)) == 20.0)      // 10x rule
    assert(Bench.watchdogDeadlineS(Some(20.0)) == 90.0)     // ceiling
    // the r15 driver spikes MUST be catchable under this rule:
    // s13 53.5 s on a ~2 s canonical min; t21 109 s on a ~9 s min
    assert(53.5 > Bench.watchdogDeadlineS(Some(2.0)))
    assert(109.0 > Bench.watchdogDeadlineS(Some(9.0)))
  }

  test("spike predicate: >4x disagreement above the 2 s floor, never on small wobble") {
    assert(Bench.isSpike(Seq(4.5, 0.5)))          // the committed r16 t7 shape
    assert(!Bench.isSpike(Seq(0.4, 0.05)))        // 8x but sub-floor (JIT wobble)
    assert(!Bench.isSpike(Seq(3.0, 10.0)))        // 3.3x: below the ratio
    assert(!Bench.isSpike(Seq(5.0)))              // single rep: nothing to compare
    assert(Bench.isSpike(Seq(0.9, 1.1, 30.0)))    // one burst among clean reps
  }

  test("contended flag catches mid-run contention and repeated defense firings") {
    // the driver-r16 scaling artifact is THE fixture (r16 verdict #1):
    // load_before 1.82 read clean under the old load_before-only rule
    // while load_after hit 25.62 with 11 spike retries + 6 watchdog
    // dumps — that shape MUST flag contended now
    assert(Bench.contendedFlag(1.82, 25.62, 32, 11 + 6))
    // load_after is judged against the pass's own cores.  The r16/r17
    // fixtures recorded no CPU time, so they take their width, the
    // upper bound a local[N] pass's task threads can use (the rule's
    // fallback): a local[4] pass seeing 25.62 is externally slammed; a
    // local[32] pass seeing the same number is indistinguishable from
    // its own self-load by the sample alone — there the defense-firing
    // count is the real signal (the r16 scaling artifact carried 17)
    assert(Bench.contendedFlag(1.82, 25.62, 4, 0), "load_after must flag at width 4")
    assert(Bench.contendedFlag(1.82, 40.0, 32, 0), "own+3 exceeded must flag at width 32")
    // a clean wide pass must NOT self-flag on its own executor load
    // (the r17 clean local[32] run: load_after 7.87, zero firings)
    assert(!Bench.contendedFlag(2.12, 7.87, 32, 0),
      "a clean scaling pass's own load must not taint the artifact")
    // the r13 rule is preserved: pre-run load alone still flags
    assert(Bench.contendedFlag(4.98, 1.82, 4, 0))
    // the committed-r16 clean shape stays clean
    assert(!Bench.contendedFlag(0.38, 0.52, 4, 0))
    // defenses firing repeatedly flag even when both load samples
    // missed the burst (contention between the two samples)
    assert(Bench.contendedFlag(1.0, 1.0, 4, 3))
    assert(!Bench.contendedFlag(1.0, 1.0, 4, 2),
      "a lone spike + dump on a clean box must not taint the artifact")
  }

  test("load_after is judged against the pass's own CPU use, not its width") {
    // a local[4] pass that kept about one core busy: load_after 5 is
    // ~4 of external load, which the r17 width+3 allowance (7) let through
    assert(Bench.contendedFlag(0.5, 5.0, 1.0, 0),
      "external load above a 1-core pass's own use must flag at local[4]")
    // the same reading from a pass that kept its four cores busy is self-load
    assert(!Bench.contendedFlag(0.5, 5.0, 4.0, 0))
    // a measured graft.Bench run (sf0.1, 4 vCPU, one spike retry in the
    // canonical pass): canonical local[4] load 1.30 -> 3.49 at 2.32 own
    // cores, then scaling local[8] load 3.49 -> 3.78 at 2.33 own cores,
    // starting at the canonical pass's 2.32.  Both read clean, the
    // scaling pass only because load_before is netted against the JVM's
    // own cores at its start, as contended() does
    assert(!Bench.contendedFlag(1.30 - 0.0, 3.49, 2.32, 1))
    assert(!Bench.contendedFlag(3.49 - 2.32, 3.78, 2.33, 0))
    assert(Bench.contendedFlag(3.49, 3.78, 2.33, 0), "an absolute load_before flags it")
  }

  test("own_cores weighs the trailing minute load_after weighs, not the whole pass") {
    def fold(shape: Seq[(Double, Double)]): Double = shape.foldLeft(0.0) {
      case (c, (wallS, cores)) => Bench.trailingCores(c, wallS, wallS * cores)
    }
    // a steady rate converges to itself, and splitting an interval
    // changes nothing (the decay composes)
    assert(math.abs(fold(Seq.fill(120)((5.0, 3.0))) - 3.0) < 0.001)
    assert(math.abs(fold(Seq((10.0, 2.0), (10.0, 2.0))) - fold(Seq((20.0, 2.0)))) < 1e-12)
    // a clean wide pass: five driver-bound minutes at one busy core, then
    // a last minute of eight busy task threads.  On a clean box the
    // kernel's 1-min load average (every 5 s: load·e^(-5/60) + runnable·
    // (1 - e^(-5/60))) ends where own_cores ends, so the pass reads clean
    val shape = Seq.fill(60)((5.0, 1.0)) ++ Seq.fill(12)((5.0, 8.0))
    val decay = math.exp(-5.0 / 60)
    val loadAfter = shape.foldLeft(0.0) { case (l, (_, n)) => l * decay + n * (1 - decay) }
    assert(math.abs(fold(shape) - loadAfter) < 1e-9)
    assert(!Bench.contendedFlag(0.3, loadAfter, fold(shape), 0))
    // the whole-pass mean (2.17 cores against a load_after of 5.42)
    // compares two windows and would flag that clean pass itself
    val wholePass = shape.map { case (w, n) => w * n }.sum / shape.map(_._1).sum
    assert(Bench.contendedFlag(0.3, loadAfter, wholePass, 0))
  }

  test("the round-stamped snapshot never overwrites an existing file") {
    val dir = java.nio.file.Files.createTempDirectory("bench-snapshot")
    Seq("BENCH_r17.json", "BENCH_full_r18.json", "BENCH_full.json").foreach { n =>
      java.nio.file.Files.writeString(dir.resolve(n), "{}")
    }
    val names = Bench.namesIn(dir)
    assert(names == Set("BENCH_r17.json", "BENCH_full_r18.json", "BENCH_full.json"))
    // the name always carries its round, 1 + the highest BENCH_r<N>
    val name = Bench.snapshotName(names)
    assert(name == "BENCH_full_r18.json")
    assert(Bench.snapshotName(Set.empty) == "BENCH_full_r01.json")
    // round 18's snapshot is already there: the write is refused, the file kept
    def read(n: String) = java.nio.file.Files.readString(dir.resolve(n))
    assert(!Bench.writeArtifact(dir.resolve(name), """{"run":2}""", createNew = true))
    assert(read(name) == "{}")
    // the stable name is rewritten by every run; a free round is written
    assert(Bench.writeArtifact(dir.resolve("BENCH_full.json"), """{"run":2}""", createNew = false))
    assert(read("BENCH_full.json") == """{"run":2}""")
    val next = Bench.snapshotName(names + "BENCH_r18.json")
    assert(next == "BENCH_full_r19.json")
    assert(Bench.writeArtifact(dir.resolve(next), """{"run":2}""", createNew = true))
    assert(read(next) == """{"run":2}""")
  }

  test("queries_runs keeps exactly `repeat` entries; the min still sees the retry") {
    // ADVICE r16: a retry appended to the runs array broke consumers
    // validating runs.length == repeat — the retry now lives only in
    // spike_retries, and minsWithRetries folds it into the reported min
    val runs = Seq("q1" -> Seq(4.5, 9.0), "q2" -> Seq(1.0, 1.2))
    val retries = Seq(Bench.SpikeRetry("q1", Seq(4.5, 9.0), 0.7))
    val mins = Bench.minsWithRetries(runs, retries).toMap
    assert(mins("q1") == 0.7, "retry must reach the reported min")
    assert(mins("q2") == 1.0, "un-retried queries take the plain min")
    // a retry slower than the reps (shouldn't happen, but a retry can
    // itself be hit) never worsens the reported min
    assert(Bench.minsWithRetries(
      Seq("q" -> Seq(1.0, 5.0)), Seq(Bench.SpikeRetry("q", Seq(1.0, 5.0), 8.0)))
      .head._2 == 1.0)
  }

  test("the in-process thread dump carries full frames and a RUNNABLE histogram") {
    // the dump is the artifact's diagnostic payload — it must actually
    // contain the calling thread with a full (un-truncated) stack and a
    // non-empty top-frame signature, or a fired watchdog records noise
    val (full, top) = Bench.threadDump()
    assert(full.contains(Thread.currentThread.getName),
      "dump missing the calling thread")
    assert(full.linesIterator.count(_.startsWith("    at ")) > 8,
      "dump looks truncated to ThreadInfo.toString's 8-frame cap")
    assert(top.nonEmpty && top.contains(" x"),
      s"top-frame histogram malformed: '$top'")
  }

  test("new artifact fields emit parseable JSON, locale-independently") {
    // a comma-decimal default locale must not leak into the JSON (the
    // ADVICE-r13 class of bug) — all fixed-point goes through Locale.ROOT
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val spikes = mapper.readTree(Bench.spikeRetriesJson(
        Seq(Bench.SpikeRetry("q1", Seq(4.5, 0.5), 0.7))))
      assert(spikes.get("q1").get("reps").get(0).asDouble == 4.5)
      assert(spikes.get("q1").get("retry").asDouble == 0.7)
      val wd = mapper.readTree(Bench.watchdogJson(Seq(Bench.WatchdogHit(
        "q2", 1, 20.0, """FileChannelImpl.map0 x32; "quoted" frame"""))))
      assert(wd.get(0).get("query").asText == "q2")
      assert(wd.get(0).get("deadline_s").asDouble == 20.0)
      assert(wd.get(0).get("top_frames").asText.contains("map0 x32"))
    } finally java.util.Locale.setDefault(prev)
  }

  test("query rows carry codegen_compiles, one count per run; the pass's keys only grow") {
    val r = Bench.SuiteResult("4", Seq("q1" -> Seq(0.5, 0.4), "s13" -> Seq(2.0, 1.9)),
      Seq("q1" -> Seq(12L, 3L), "s13" -> Seq(140L, 96L)), Nil, 0.5, 1.0, Some(20.0),
      Some(0.0), Some(1.0), Nil, Nil)
    val j = mapper.readTree(Bench.suiteJson(r, 2))
    val compiles = j.get("codegen_compiles")
    assert(compiles.get("q1").get(0).asLong == 12 && compiles.get("s13").get(1).asLong == 96)
    Seq("q1", "s13").foreach(q => assert(compiles.get(q).size == j.get("queries_runs").get(q).size))
    // r17 verdict item 7: consumers key on these, so a field is only ever added
    import scala.jdk.CollectionConverters._
    val before = Set("cpus", "total_s", "n_queries", "repeat", "contended", "queries",
      "queries_runs", "spike_retries", "watchdog_dumps", "tiers", "errors", "load_before",
      "load_after", "cpu_busy_pct", "own_cores_before", "own_cores")
    assert(j.fieldNames().asScala.toSet == before + "codegen_compiles")
  }
}
