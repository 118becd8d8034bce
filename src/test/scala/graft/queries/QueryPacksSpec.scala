package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Pack-level behavior tests at sf0.001 (fast). The DuckDB value-parity gate
  * is exercised by graft.Verify + tools/check_oracle.py; these specs pin the
  * semantics the oracle can't see and smoke-run every declared query. */
class QueryPacksSpec extends SparkSpec {

  test("flagship entry returns rows at sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs at sf0.001 (no runtime errors)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf()).count()
      assert(n >= 0, s"$name errored")
    }
  }

  test("every oracleSql key has a matching queries entry") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("query names are unique across packs (Map must not silently drop any)") {
    val names = Seq(Relational.all, Analytics.all, Pipeline.all, TextOps.all,
      Dedup.all, Similarity.all, Multimodal.all, Curation.all).flatten.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(names.size == SparkEntry.queries.size)
  }

  test("query result columns are aliased (no raw agg names like sum(x))") {
    SparkEntry.queries.foreach { case (name, fn) =>
      fn(spark, sf()).columns.foreach { c =>
        assert(!c.contains("("), s"$name leaks unaliased column '$c'")
      }
    }
  }

  test("building any query's DataFrame launches zero ACTION jobs (construction is pure)") {
    // Round 1 had two offenders: d2 ran a count() action and d5 collect()ed
    // the corpus inside query CONSTRUCTION.  Constructing a DataFrame must
    // only build a plan — actions belong to execution.  Parquet
    // schema-inference jobs ("parquet at ...") are metadata-only reads that
    // spark.read itself issues; everything else (count/collect/take/...)
    // is a data-processing action and is banned here.
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        js.stageInfos.foreach(si => sites.add(si.name): Unit)
    }
    // STRUCTURAL ALLOWLIST — t20_bpe_train / t21_bpe_apply: ITERATIVE
    // plans whose round-k subtree consumes round-(k−1)'s
    // lineage-truncated relation.  Wiring any truncation (lazy
    // localCheckpoint, createDataFrame over .rdd) through a plan that
    // contains broadcast joins makes Spark submit the broadcast-future
    // jobs while the RDD chain is being BUILT — inherent to declarative
    // multi-round algorithms, not a hidden driver action: nothing is
    // collected to the driver, and the work those jobs do is exactly the
    // training/encode rounds.  Rather than SKIP these queries (which
    // would let a regression — say an accidental collect in the argmax
    // loop — go undetected), they run under a NARROW allowlist: only the
    // broadcast-future execution site and the stages of the
    // lineage-cut RDD chain those futures compute are permitted; any
    // driver-side action (collect/count/take/first/…) names its stage
    // after that call site and fails the gate.
    // t22 consumes the same trainer as t21 (fertility over the one-pass
    // encoder), so its construction runs the identical lineage-cut chain.
    // c15 cuts its five-stage `selected` relation (the boundary both the
    // rates aggregate and the mixing join read — the composition's whole
    // point), and that cut's child plan inherently carries broadcast
    // exchanges (the bench/floor relations and the dup graph's guard
    // joins), whose futures submit while the cut RDD is built — the
    // t20/t21 class exactly; the narrow allowlist still fails any
    // driver-side collect/count/take in the composition
    val iterative = Set("t20_bpe_train", "t21_bpe_apply", "t22_bpe_fertility",
      "c15_curation_pipeline")
    val metadataSite = (s: String) => s.startsWith("parquet at") || s.startsWith("json at")
    val iterativeAllowed = (s: String) => metadataSite(s) ||
      s.startsWith("$anonfun$withThreadLocalCaptured") || // broadcast exchange future
      s.startsWith("cut at ")                             // lineage-cut chain stages
    spark.sparkContext.addSparkListener(listener)
    // the call-site THREAD-LOCAL survives earlier tests' actions on this
    // thread, and withThreadLocalCaptured propagates it into broadcast
    // futures — a construction-time future would then STAGE-NAME itself
    // after a previous test's count() and dodge (or falsely trip) the
    // allowlist; clear it so construction jobs carry their real sites
    spark.sparkContext.clearCallSite()
    try {
      SparkEntry.queries.foreach {
        case (name, _) if iterative(name) => ()
        case (_, fn) => fn(spark, sf()): Unit
      }
      Thread.sleep(2000) // listener bus is async; let job-start events land
      val actions = sites.toArray(Array.empty[String]).filterNot(metadataSite)
      assert(actions.isEmpty,
        s"query construction launched action job(s): ${actions.mkString(", ")}")
      sites.clear()
      // a stage over an RDD CREATED by an earlier test's action keeps that
      // action's call site as its name (cached dup-graph/token relations
      // first materialized under a previous count()) — clear the session
      // caches so the iterative constructions build their relations fresh
      // and every stage names its true creation site
      graft.Harness.clearCaches(spark)
      iterative.foreach(name => SparkEntry.queries(name)(spark, sf()): Unit)
      Thread.sleep(2000)
      val offLimits = sites.toArray(Array.empty[String]).filterNot(iterativeAllowed)
      assert(offLimits.isEmpty,
        s"iterative construction ran non-allowlisted job site(s): ${offLimits.mkString(", ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("prefix-filtered jaccard join ≡ naive all-pairs join (exactness of the pruning)") {
    for (t <- Seq(0.2, 0.5); global <- Seq(false, true)) {
      val naive = TextOps.shingleJaccardPairs(spark, sf(), global)
        .filter(col("jaccard") >= t)
        .select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pruned = TextOps.jaccardPairsPrefixFiltered(spark, sf(), t, global)
        .select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pruned == naive, s"prefix filter changed results at t=$t global=$global")
    }
  }

  test("minhash LSH surfaces the planted near-dup pairs found by exact jaccard") {
    // d2 (exact, oracle-checked) within-source pairs at jaccard>=0.5 must all
    // be recalled by the d3 MinHash+LSH candidate path (same threshold).
    val exact = TextOps.shingleJaccardPairs(spark, sf())
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.d3MinHashLsh.fn(spark, sf())
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh),
      s"LSH missed planted pairs: ${exact.diff(lsh)}")
    assert(lsh.nonEmpty, "no near-dup pairs found at sf0.001")
  }

  test("banded simhash is COMPLETE for hamming ≤ 4 (the pigeonhole guarantee)") {
    // The banding guarantee is about HAMMING, not Jaccard: any pair whose
    // fingerprints differ in ≤ HamBands−1 bits matches on ≥1 band.  (A
    // Jaccard-0.5 trigram pair can legitimately sit at hamming 10 —
    // SimHash approximates token-multiset cosine; d3 is the
    // Jaccard-recall path.)  Ground truth: brute-force hamming over every
    // fingerprint pair.
    val fps = Dedup.simhashFps(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      i <- fps.indices.iterator; j <- (i + 1) until fps.length
      h = java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2) if h <= 4
    } yield {
      val (a, b) = (fps(i)._1, fps(j)._1)
      (math.min(a, b), math.max(a, b), h)
    }).toSet
    val pairs = Dedup.d4SimHash.fn(spark, sf()).collect()
    val got = pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == truth,
      s"banding missed ${truth.diff(got)} / invented ${got.diff(truth)}")
    assert(got.nonEmpty, "no hamming≤4 pairs at sf0.001")
    // hamming must be non-decreasing in the ordered output
    val hs = pairs.map(_.getInt(2))
    assert(hs.sameElements(hs.sorted))
  }

  test("d6 cluster labels are a valid connected-components fixpoint") {
    // ground truth: BFS over the same edge set (d3's exact-verified pairs
    // universe is a different threshold — recompute edges from the exact
    // global Jaccard pairs the query itself uses, via its own output)
    val labels = Dedup.d6DupClusters.fn(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty)
    // keeper property: every cluster id is itself a member and is the min
    val byCluster = labels.groupBy(_._2).view.mapValues(_.keys.toSeq)
    byCluster.foreach { case (cid, members) =>
      assert(members.min == cid, s"cluster $cid min is ${members.min}")
      assert(labels(cid) == cid, s"keeper $cid not labeled with itself")
    }
    // consistency with the exact near-dup pairs: both endpoints of every
    // strong pair (jaccard >= 0.5, global scope) share a cluster
    val sh = TextOps.shingles(spark, sf()).select("doc_id", "shingle")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = sh.toDF("doc_a", "shingle")
      .join(sh.toDF("doc_b", "shingle"), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes.toDF("doc_a", "sa"), "doc_a")
      .join(sizes.toDF("doc_b", "sb"), "doc_b")
      .filter(round(col("n_inter").cast("double") / (col("sa") + col("sb") - col("n_inter")), 4) >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("cc hash-to-min: 30-hop shuffled-id chain converges in 10 rounds; guard trips when bounded") {
    import spark.implicits._
    // chain of 31 nodes whose ids are SCRAMBLED along the path (i ↦
    // 17i mod 31 is a permutation): the adversarial case for one-hop
    // propagation (diameter 30) and for naive pointer jumping (many
    // local minima); hash-to-min converges in O(log 30) rounds
    def id(i: Long): Long = (i * 17) % 31 + 10
    val long = (0L until 30L).map(i => (id(i), id(i + 1))).toDF("doc_a", "doc_b")
    val labels = Dedup.propagateLabels(spark, long, 10, hashToMin = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 31, s"expected 31 labeled nodes, got ${labels.size}")
    assert(labels.values.forall(_ == 10L), s"chain not fully converged: $labels")
    // the one-hop strategy converges the same chain given diameter-many
    // rounds (and is the cheap default for near-clique graphs)
    val linear = Dedup.propagateLabels(spark, long, 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(linear == labels, "strategies disagree on the chain")
    // insufficient rounds must FAIL LOUDLY at execution (fixpoint guard),
    // never silently return partial labels — in EITHER strategy
    val ex = intercept[Exception] {
      Dedup.propagateLabels(spark, long, 1, hashToMin = true).collect(): Unit
    }
    val ex2 = intercept[Exception] {
      Dedup.propagateLabels(spark, long, 3).collect(): Unit
    }
    assert(Iterator.iterate(ex2: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("did not reach a fixpoint"))))
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("did not reach a fixpoint")),
      s"guard error not raised; got: ${messages.mkString(" | ")}")
  }

  test("t8 split is deterministic, total, and roughly 13/2/1 by hash range") {
    val out = TextOps.t8TrainSplit.fn(spark, sf()).collect()
    val bySplit = out.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val total = bySplit.values.sum
    assert(Set("train", "valid", "test").subsetOf(bySplit.keySet))
    // 13/16 ≈ 81% expected for train; valid vs test (2/16 vs 1/16) is too
    // close to order reliably at sf0.001's 500 docs
    assert(bySplit("train") > bySplit("valid") && bySplit("train") > bySplit("test"))
    assert(bySplit("train").toDouble / total > 0.6)
    // determinism: a second run is identical row-for-row
    val again = TextOps.t8TrainSplit.fn(spark, sf()).collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("c2 contamination matches an independent fp-level split-set recount") {
    val out = TextOps.c2Contamination.fn(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.nonEmpty)
    // independent method: one pass collecting the set of splits per
    // fingerprint, then per-doc membership of 'train' in that set
    val docs = graft.tables.Tables.documents(spark, sf())
      .filter(col("text").isNotNull && col("text") =!= "")
      .withColumn("fp", TextOps.normFingerprint(col("text")))
      .withColumn("split", TextOps.splitCol)
    val fpSplits = docs.groupBy(col("fp"))
      .agg(collect_set(col("split")).as("splits"))
    val recount = docs.filter(col("split") =!= "train")
      .join(fpSplits, "fp")
      .withColumn("contaminated", array_contains(col("splits"), "train"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_cont"),
        countDistinct(when(col("contaminated"), col("fp"))).as("n_fps"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == recount, s"query=$out recount=$recount")
    // sanity: contaminated docs never exceed held-out docs
    out.values.foreach { case (n, c, f) => assert(c <= n && f <= c) }
  }

  test("c3 packing matches a plain-Scala simulation of concatenate-and-chunk") {
    val B = 2048L
    val out = Curation.c3SequencePacking.fn(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out.nonEmpty)
    // simulate: per (split, source), docs in doc_id order, running token sum
    val docs = graft.tables.Tables.documents(spark, sf())
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("split", TextOps.splitCol)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val sim = docs.groupBy(d => (d._4, d._2)).map { case (key, ds) =>
      var cum = 0L; var straddlers = 0L
      ds.sortBy(_._1).foreach { d =>
        val before = cum; cum += d._3
        if (before / B < (cum - 1) / B) straddlers += 1
      }
      key -> ((ds.length.toLong, cum, (cum + B - 1) / B, straddlers))
    }
    assert(out == sim, s"query=$out sim=$sim")
    // invariants (the boundary-crossing CASE itself is exercised by the
    // sf0.01 oracle gate, where doc groups exceed the 2048-token budget)
    out.values.foreach { case (nDocs, total, nSeqs, nStraddle) =>
      assert(nSeqs == (total + B - 1) / B)
      assert(nStraddle <= nDocs && nStraddle < nSeqs.max(1))
    }
  }

  test("c4 mixing plan: budget conservation and no-upsampling cap") {
    val rows = Curation.c4SourceMixing.fn(spark, sf()).collect()
    assert(rows.nonEmpty)
    val avail = rows.map(_.getLong(2)).sum
    rows.foreach { r =>
      val (av, target, bp, planned) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(bp >= 0 && bp <= 10000)
      assert(planned <= av)                    // never upsample
      assert(bp == math.min(target * 10000 / av, 10000L))
      assert(planned == av * bp / 10000)
      assert(target == avail / 2 / rows.length) // equal share of half corpus
    }
  }

  test("c6 closed-form chunk counts match an explicit chunk enumeration") {
    val perSource = Curation.c6ChunkOverlap.fn(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    assert(perSource.nonEmpty)
    val (size, overlap, stride) = (512L, 64L, 448L)
    val sim = graft.tables.Tables.documents(spark, sf())
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("source"), org.apache.spark.sql.functions.size(
        TextOps.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (src, ds) =>
        var (nDocs, chunks, emitted) = (0L, 0L, 0L)
        ds.map(_._2).foreach { n =>
          // walk windows of `size` at `stride` until one covers the doc end
          var st = 0L
          var done = false
          while (!done) {
            val end = math.min(st + size, n)
            chunks += 1; emitted += end - st
            if (st + size >= n) done = true else st += stride
          }
          nDocs += 1
        }
        src -> ((nDocs, chunks, emitted))
      }
    assert(perSource == sim, s"closed form drifted: $perSource vs $sim")
  }

  test("c5 sample tracks c4's plan within binomial tolerance and is deterministic") {
    val plan = Curation.c4SourceMixing.fn(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(4), r.getLong(5)))).toMap // bp, planned
    val sample = Curation.c5StratifiedSample.fn(spark, sf()).collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val (source, bp, nSampled, tokens, avail) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val (planBp, planned) = plan(source)
      assert(bp == planBp, s"$source: rate drifted from the c4 plan")
      assert(tokens <= avail && nSampled >= 0)
      if (bp == 10000L) assert(tokens == avail, s"$source: rate 1.0 must keep everything")
      else {
        // per-source doc counts at sf0.001 are tiny (~12 docs), so the
        // binomial spread is wide; the loose per-source band still catches
        // a broken threshold (which lands at ~0 or ~avail, 10–100× off)
        assert(tokens >= planned / 3 && tokens <= planned * 2,
          s"$source: sampled $tokens vs planned $planned")
      }
    }
    // across all sources the binomial noise averages out: the sampled mass
    // must track the planned mass within ±15%
    val totalSampled = sample.map(_.getLong(3)).sum.toDouble
    val totalPlanned = plan.values.map(_._2).sum.toDouble
    assert(math.abs(totalSampled - totalPlanned) / totalPlanned < 0.15,
      s"total sampled $totalSampled vs planned $totalPlanned")
    val again = Curation.c5StratifiedSample.fn(spark, sf()).collect()
    assert(sample.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("sketch accuracy: approx_percentile within 5% of exact, KMV within 10% of exact") {
    // q26 (fixed-width histogram sketch, $5,000 buckets) vs q16 (exact
    // percentiles), same grouping: the bucket-midpoint estimate must land
    // within 5% of exact AND within one bucket width of it (the sketch's
    // structural error bound)
    val bucketCents = 500000L
    val exactP = Relational.q16Percentiles.fn(spark, sf()).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    Relational.q26ApproxPercentiles.fn(spark, sf()).collect().foreach { r =>
      val (p50, p90) = exactP(r.getString(0))
      assert(math.abs(r.getDouble(2) - p50) / p50 < 0.05,
        s"${r.getString(0)} p50 sketch ${r.getDouble(2)} vs exact $p50")
      assert(math.abs(r.getDouble(3) - p90) / p90 < 0.05,
        s"${r.getString(0)} p90 sketch ${r.getDouble(3)} vs exact $p90")
      assert(math.abs(r.getLong(4) - p50 * 100) <= bucketCents,
        s"${r.getString(0)} p50 midpoint ${r.getLong(4)}c not within one bucket of exact $p50")
      assert(math.abs(r.getLong(5) - p90 * 100) <= bucketCents,
        s"${r.getString(0)} p90 midpoint ${r.getLong(5)}c not within one bucket of exact $p90")
    }
    // q34 (deterministic 10% sample) vs q16 (exact), same grouping: at
    // sf0.001 each priority has ~300 orders → ~30 sampled; binomial noise
    // on p50/p90 stays well under 15%
    Relational.q34SampledPercentiles.fn(spark, sf()).collect().foreach { r =>
      val (p50, p90) = exactP(r.getString(0))
      assert(r.getLong(1) > 0, s"${r.getString(0)} empty sample")
      assert(math.abs(r.getDouble(2) - p50) / p50 < 0.15,
        s"${r.getString(0)} sampled p50 ${r.getDouble(2)} vs exact $p50")
      assert(math.abs(r.getDouble(3) - p90) / p90 < 0.15,
        s"${r.getString(0)} sampled p90 ${r.getDouble(3)} vs exact $p90")
    }
    // a6 (KMV sketch) vs q8 (exact COUNT DISTINCT), same grouping
    val exactD = Relational.q8Distinct.fn(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    Analytics.aApproxDistinct.fn(spark, sf()).collect().foreach { r =>
      val exact = exactD(r.getString(0)).toDouble
      assert(math.abs(r.getLong(1) - exact) / exact < 0.10,
        s"${r.getString(0)} KMV ${r.getLong(1)} vs exact $exact")
    }
  }

  /** splitmix64 — deterministic pseudo-random noise for the planted corpus. */
  private def mix(x: Long): Long = {
    var h = x * 0x9E3779B97F4A7C15L
    h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
    h ^= h >>> 27; h *= 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  /** 20 well-separated clusters × 50 points in 64-dim: centers are distinct
    * basis vectors, noise amplitude 0.005/coord.  Geometry is provable:
    * within-cluster normalized distance ≤ ~0.09 (inside the 0.25 ball
    * radius, cosine ≥ 0.99), cross-cluster ≥ ~1.38 (beyond the
    * R + ball = 1.3455 prune bound, cosine ≤ ~0.05) — so the ball pruning
    * MUST activate and the exact output is exactly the within-cluster
    * pairs. */
  private def plantedCorpus: Seq[(Long, Array[Double], Double)] =
    (0L until 1000L).map { id =>
      val cluster = (id / 50).toInt
      val emb = new Array[Double](64)
      emb(cluster * 3) = 1.0
      var i = 0
      while (i < 64) {
        emb(i) += 0.005 * (mix((id << 8) | i).toDouble / Long.MaxValue)
        i += 1
      }
      (id, emb, math.sqrt(emb.map(x => x * x).sum))
    }

  test("d5 ball pruning ≡ all-pairs kernel (bit-identical rows), clustered AND real corpora") {
    import spark.implicits._
    // the kernel no longer sorts (d7 lineage-cuts it; a range exchange
    // would sample at RDD-build time) — sort here for stable comparison
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val planted = spark.createDataset(plantedCorpus)
    val pruned = rows(Similarity.embeddingPairsOf(spark, planted, blocks = 4))
    val naive = rows(Similarity.embeddingPairsOf(spark, planted, blocks = 4, prune = false))
    assert(pruned == naive, "pruning changed the output on the clustered corpus")
    assert(pruned.size == 20 * (50 * 49 / 2), "expected exactly the within-cluster pairs")
    // real corpus (isotropic — exercises the maxBalls fallback guard)
    val p2 = rows(Similarity.embeddingPairs(spark, sf()))
    val n2 = rows(Similarity.embeddingPairs(spark, sf(), prune = false))
    assert(p2 == n2, "pruning changed the output on the real corpus")
  }

  test("d5 kernel is sub-quadratic on the planted corpus (<50% of n(n-1)/2 comparisons)") {
    import spark.implicits._
    val planted = spark.createDataset(plantedCorpus)
    val acc = spark.sparkContext.longAccumulator("d5-comparisons")
    Similarity.embeddingPairsOf(spark, planted, blocks = 4, comparisons = Some(acc))
      .count(): Unit
    val n = 1000L
    assert(acc.value > 0, "comparison counter never incremented")
    assert(acc.value < n * (n - 1) / 2 / 2,
      s"${acc.value} comparisons is not <50% of all-pairs ${n * (n - 1) / 2}")
  }

  test("brute-force ANN: top-1 neighbor of a near-duplicate vector is that duplicate") {
    val top = Similarity.s1AnnBruteForce.fn(spark, sf())
    val rows = top.filter(col("rn") === 1).collect()
    assert(rows.length == 5) // 5 query vectors, one top hit each
    rows.foreach(r => assert(r.getDouble(3) <= 1.0 && r.getDouble(3) >= -1.0))
  }

  test("IVF ANN recalls the brute-force top-1 when its list is probed") {
    val bfTop = Similarity.s1AnnBruteForce.fn(spark, sf())
      .filter(col("rn") === 1).select("q_id", "nn_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.s4AnnIvf.fn(spark, sf())
      .select("q_id", "rn", "nn_id")
      .collect().groupBy(_.getLong(0))
    assert(ivf.nonEmpty)
    // every query gets ≤5 ordered results; recall of the global top-1 is
    // expected (not guaranteed) when nprobe covers its list — assert the
    // majority holds so a broken quantizer fails loudly
    val recalled = bfTop.count { case (q, nn) =>
      ivf.get(q).exists(_.exists(r => r.getLong(2) == nn))
    }
    assert(recalled * 2 >= bfTop.size, s"IVF recalled only $recalled/${bfTop.size} top-1s")
  }

  test("graft_topk aggregate ≡ window row_number top-k (cross-partition merge correct)") {
    graft.sentiment.GraftFunctions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val o = graft.tables.Tables.orders(spark, sf())
      .repartition(7) // force multi-partition partial/merge paths
    val viaAgg = o.groupBy(col("o_orderstatus"))
      .agg(call_function("graft_topk", col("o_totalprice"), lit(5)).as("top"))
      .select(col("o_orderstatus"), explode(col("top")).as("price"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice").desc)
    val viaWindow = o.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("o_orderstatus"), col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(viaAgg == viaWindow, s"topk agg diverged: $viaAgg vs $viaWindow")
  }

  test("int8-quantized ANN recalls most exact top-1 neighbors (quantization error is small)") {
    val bfTop = Similarity.s1AnnBruteForce.fn(spark, sf())
      .filter(col("rn") === 1).select("q_id", "nn_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quant = Similarity.s6AnnQuantized.fn(spark, sf())
      .select("q_id", "nn_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    assert(quant.nonEmpty)
    // int8 keeps ~7 bits of precision per component: the exact top-1 must
    // survive into the quantized top-10 for the large majority of queries
    val recalled = bfTop.count { case (q, nn) => quant.get(q).exists(_.contains(nn)) }
    assert(recalled * 2 >= bfTop.size,
      s"quantized ANN recalled only $recalled/${bfTop.size} exact top-1s")
  }

  test("multi-probe LSH recall dominates single-probe (bucket superset)") {
    def top1Hits(df: org.apache.spark.sql.DataFrame, bf: Map[Long, Long]): Int = {
      val byQ = df.select("q_id", "nn_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      bf.count { case (q, nn) => byQ.get(q).exists(_.contains(nn)) }
    }
    val bfTop = Similarity.s1AnnBruteForce.fn(spark, sf())
      .filter(col("rn") === 1).select("q_id", "nn_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val single = top1Hits(Similarity.s2AnnLsh.fn(spark, sf()), bfTop)
    val multi = top1Hits(Similarity.s5AnnMultiProbe.fn(spark, sf()), bfTop)
    // probing a superset of buckets can only help: if the global top-1 is
    // in a single-probe bucket it ranks #1 there too, so it survives the
    // top-5 cut in both
    assert(multi >= single, s"multi-probe recalled $multi < single-probe $single")
  }

  test("t11 scrub leaves no residual PII and counts match the planted arithmetic") {
    // the oracle pins byte-exact equality with DuckDB; this pins the
    // SEMANTICS: nothing matching any pattern survives, and the counts
    // are exactly what the deterministic planting implies (corpus text
    // contains no digits/@, so only planted PII can match)
    val rows = TextOps.t11PiiScrub.fn(spark, sf()).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (if (id % 3 == 0) 1 else 0), s"doc $id emails")
      assert(r.getInt(2) == (if (id % 4 == 0) 1 else 0), s"doc $id phones")
      assert(r.getInt(3) == (if (id % 5 == 0) 1 else 0), s"doc $id ips")
    }
    // residual check on the actual scrubbed TEXT (the query only exports
    // its md5): rebuild the same dirty column, scrub with the same
    // patterns, and demand zero remaining matches of any pattern
    val residual = graft.tables.Tables.documents(spark, sf())
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(concat(col("text"), TextOps.plantPii()).as("t"))
      .select(regexp_replace(regexp_replace(regexp_replace(col("t"),
        TextOps.EmailRe, "<EMAIL>"), TextOps.PhoneRe, "<PHONE>"),
        TextOps.Ipv4Re, "<IP>").as("clean"))
      .select(
        sum(size(regexp_extract_all(col("clean"), lit(TextOps.EmailRe), lit(0)))).as("e"),
        sum(size(regexp_extract_all(col("clean"), lit(TextOps.PhoneRe), lit(0)))).as("p"),
        sum(size(regexp_extract_all(col("clean"), lit(TextOps.Ipv4Re), lit(0)))).as("i"))
      .head()
    assert(residual.getLong(0) == 0 && residual.getLong(1) == 0 && residual.getLong(2) == 0,
      s"residual PII after scrub: $residual")
  }

  test("d8 matches a plain-Scala recount of cross-doc repeated spans") {
    // independent simulation: same 8-token windows, same (fold, len) key,
    // dup = key seen in >= 2 distinct docs — computed with Scala
    // collections, no Spark
    def fold(s: String): Long = {
      var h = 7L
      s.getBytes("UTF-8").foreach(b => h = (h * 31 + (b & 0xFF)) % 1000000007L)
      h
    }
    val docs = graft.tables.Tables.documents(spark, sf())
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
      .filter(_._2.length >= 8)
    val spansByDoc = docs.map { case (id, w) =>
      id -> w.sliding(8).map(g => { val s = g.mkString(" "); (fold(s), s.length) }).toSeq
    }
    val docsPerKey = spansByDoc.flatMap { case (id, ks) => ks.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.size }
    val expected = spansByDoc.map { case (id, ks) =>
      val nDup = ks.count(docsPerKey(_) >= 2)
      id -> ((ks.size.toLong, nDup.toLong,
        math.floor(nDup.toDouble / ks.size * 10000) / 10000.0))
    }.toMap
    val rows = Dedup.d8SpanDedup.fn(spark, sf()).collect()
    assert(rows.length == expected.size, s"${rows.length} docs vs ${expected.size}")
    var anyDup = false
    rows.foreach { r =>
      val (id, got) = (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got == expected(id), s"doc $id: query $got vs recount ${expected(id)}")
      if (r.getLong(2) > 0) anyDup = true
    }
    assert(anyDup, "corpus near-dups should share at least one 8-token span")
  }

  test("c7 matches a plain-Scala recount of cross-split span leakage") {
    def fold(s: String): Long = {
      var h = 7L
      s.getBytes("UTF-8").foreach(b => h = (h * 31 + (b & 0xFF)) % 1000000007L)
      h
    }
    def split(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:split".getBytes("UTF-8"))
      val h1 = "%02x".format(md(0) & 0xFF).charAt(0)
      if (h1 < 'd') "train" else if (h1 < 'f') "valid" else "test"
    }
    val docs = graft.tables.Tables.documents(spark, sf())
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
      .filter(_._2.length >= 8)
    val spanKeys = docs.map { case (id, w) =>
      (id, split(id), w.sliding(8).map(g => { val s = g.mkString(" "); (fold(s), s.length) }).toSet)
    }
    val evalKeys = spanKeys.filter(_._2 != "train")
      .flatMap { case (_, sp, ks) => ks.map(_ -> sp) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val expected = spanKeys.filter(_._2 == "train").flatMap { case (id, _, ks) =>
      ks.flatMap(k => evalKeys.getOrElse(k, Set.empty).map(sp => (sp, id, k)))
    }
    val byEval = expected.groupBy(_._1).map { case (sp, v) =>
      sp -> ((v.map(_._2).distinct.length.toLong, v.map(_._3).distinct.length.toLong))
    }
    val rows = TextOps.c7NgramDecontamination.fn(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows == byEval, s"query $rows vs recount $byEval")
    assert(rows.nonEmpty, "corpus should contain cross-split span leakage")
  }

  test("q33: quartiles partition each priority group; cume_dist tops out at 1") {
    val rows = Relational.q33RankFamily.fn(spark, sf()).collect()
    val byPriority = rows.groupBy(_.getString(0))
    val orderCounts = graft.tables.Tables.orders(spark, sf())
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byPriority.foreach { case (prio, cells) =>
      assert(cells.map(_.getInt(1)).sorted.sameElements(Seq(1, 2, 3, 4)), s"$prio quartiles")
      assert(cells.map(_.getLong(2)).sum == orderCounts(prio), s"$prio counts")
      val q4 = cells.find(_.getInt(1) == 4).get
      assert(q4.getDouble(6) == 1.0, s"$prio max cume_dist")
      // quartile value ranges must not overlap: max(q_i) <= min(q_{i+1})
      val sorted = cells.sortBy(_.getInt(1))
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a.getDouble(4) <= b.getDouble(3), s"$prio quartile ranges overlap")
      }
    }
  }

  test("PQ ANN recalls most exact top-1s; every hit is a real corpus vector") {
    val bfTop = Similarity.s1AnnBruteForce.fn(spark, sf())
      .filter(col("rn") === 1).select("q_id", "nn_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = Similarity.s7AnnPq.fn(spark, sf())
      .select("q_id", "nn_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(pq.nonEmpty)
    pq.foreach { case (q, nns) => assert(!nns.contains(q), s"query $q matched itself") }
    // 8 bytes of codes keep enough geometry that the exact top-1 survives
    // the 20-candidate ADC cut for the majority of queries; a broken
    // codebook/ADC path collapses recall to ~0 and fails here
    val recalled = bfTop.count { case (q, nn) => pq.get(q).exists(_.contains(nn)) }
    assert(recalled * 2 >= bfTop.size,
      s"PQ ANN recalled only $recalled/${bfTop.size} exact top-1s")
  }

  test("q37 streak distribution matches a plain-Scala islands recount") {
    val DayUs = 86400L * 1000000L
    val ud = graft.tables.Tables.events(spark, sf())
      .select(col("user_id"), expr(s"unix_micros(ts) DIV $DayUs").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = ud.groupBy(_._1).toSeq.flatMap { case (u, days) =>
      // split each user's sorted day set into maximal consecutive runs
      val ds = days.map(_._2).sorted
      ds.foldLeft(List.empty[List[Long]]) {
        case (acc @ (run :: rest), d) if d == run.head + 1 => (d :: run) :: rest
        case (acc, d) => List(d) :: acc
      }.map(run => (u, run.length.toLong))
    }
    val expDist = expected.groupBy(_._2).view.mapValues { runs =>
      (runs.size.toLong, runs.map(_._1).distinct.size.toLong)
    }.toMap
    val got = Relational.q37GapsIslands.fn(spark, sf()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expDist, s"islands recount diverged: $got vs $expDist")
  }

  test("q38 peak concurrency matches a plain-Scala sweep recount") {
    val DayUs = 86400L * 1000000L
    val o = graft.tables.Tables.orders(spark, sf())
      .select(col("o_orderpriority"),
        expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV $DayUs").as("d0"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = o.groupBy(_._1).view.mapValues { os =>
      val points = os.flatMap { case (_, d) => Seq((d, 1), (d + 30, -1)) }
        .sortBy(p => (p._1, p._2)) // ends before starts at the same day
      points.scanLeft(0)((acc, p) => acc + p._2).max.toLong
    }.toMap
    val got = Relational.q38MaxConcurrent.fn(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, s"sweep recount diverged: $got vs $expected")
  }

  test("d9 representative is a member with maximal n_chars; counts match d6") {
    val labels = Dedup.clusterLabels(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byCluster = labels.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val chars = graft.tables.Tables.documents(spark, sf())
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Dedup.d9ClusterCanonical.fn(spark, sf()).collect()
    assert(rows.map(_.getLong(0)).toSet == byCluster.keySet)
    rows.foreach { r =>
      val (cid, rep, n, total) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val members = byCluster(cid)
      assert(members.contains(rep), s"cluster $cid rep $rep not a member")
      assert(n == members.size, s"cluster $cid member count")
      assert(total == members.toSeq.map(chars).sum, s"cluster $cid total chars")
      val best = members.map(chars).max
      assert(chars(rep) == best, s"cluster $cid rep is not longest")
      assert(members.filter(m => chars(m) == best).min == rep, s"cluster $cid tie-break")
    }
  }

  test("t14 bands partition the vocabulary and bound their frequencies") {
    val rows = TextOps.t14FreqSpectrum.fn(spark, sf()).collect()
    assert(rows.nonEmpty)
    val vocab = graft.tables.Tables.documents(spark, sf())
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .distinct().count()
    assert(rows.map(_.getLong(1)).sum == vocab, "band sizes must sum to |vocab|")
    rows.foreach { r =>
      val (band, lo, hi) = (r.getInt(0), r.getLong(2), r.getLong(3))
      assert(lo >= (1L << (band - 1)) && hi < (1L << band),
        s"band $band frequencies [$lo,$hi] out of [2^${band - 1}, 2^$band)")
      assert(lo <= hi)
    }
  }

  test("q39 moving average matches a plain-Scala sliding-frame recount") {
    val rows = Relational.q39MovingAvg.fn(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (prio, series) =>
      val s = series.sortBy(_._2)
      s.indices.foreach { i =>
        val frame = s.slice(math.max(0, i - 6), i + 1)
        val (_, _, _, n, avg) = s(i)
        assert(n == frame.length, s"$prio day ${s(i)._2} frame size")
        val cents = frame.map(_._3).sum
        val expect = math.floor(cents / 100.0 / frame.length * 10000) / 10000
        assert(avg == expect, s"$prio day ${s(i)._2} avg $avg != $expect")
      }
    }
  }

  test("m4 batches: padded tensor accounting is internally consistent") {
    val rows = Multimodal.m4ResizeBatches.fn(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mw, mh, content, waste) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(mw <= 224 && mh <= 224, "fit must stay inside the 224 target")
      assert(mw == 224 || mh == 224, "the larger dim must hit the target exactly")
      assert(waste == n * mw * mh - content, "padding identity")
      assert(waste >= 0 && content <= n * mw * mh)
    }
  }

  test("t15 deletion-key join ≡ brute-force all-pairs levenshtein (exactness)") {
    // replicate the planting + vocab, then compare the SymSpell join's
    // pair set against an O(V²) exact scan — the join must be complete
    // (no distance-1 pair missed) and sound (no distance-2 survivor)
    val docs = graft.tables.Tables.documents(spark, sf())
      .filter(col("text").isNotNull && col("text") =!= "")
      .select("doc_id", "text").collect()
    val vocab = docs.flatMap { r =>
      val lowered = r.getString(1).trim.toLowerCase
      val planted = if (r.getLong(0) % 7 == 0)
        Seq("x" + lowered.split("\\s+").head.drop(1)) else Seq.empty
      lowered.split("\\s+") ++ planted
      // mirror the query's printable-ASCII vocab restriction (the t15
      // cross-engine ordering contract): a non-ASCII token here would put
      // pairs in `expected` the query excludes by design
    }.filter(w => w.length >= 4 && w.forall(c => c >= '!' && c <= '~')).toSet
    def lev1(x: String, y: String): Boolean = {
      if (math.abs(x.length - y.length) > 1) false
      else if (x.length == y.length) x.zip(y).count { case (p, q) => p != q } <= 1
      else {
        val (a, b) = if (x.length < y.length) (x, y) else (y, x)
        var i = 0; var j = 0; var diff = 0
        while (i < a.length && j < b.length && diff <= 1) {
          if (a(i) == b(j)) { i += 1; j += 1 } else { diff += 1; j += 1 }
        }
        diff + (b.length - j) <= 1
      }
    }
    val expected = (for {
      a <- vocab; b <- vocab if a < b && lev1(a, b)
    } yield (a, b)).toSet
    val got = TextOps.t15TypoPairs.fn(spark, sf())
      .select("tok_a", "tok_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected, s"typo join diverged: extra=${got.diff(expected)} missing=${expected.diff(got)}")
    assert(got.nonEmpty, "planting must surface at least one pair")
  }

  test("c8 tiers partition the corpus into non-overlapping quality ranges") {
    val rows = Curation.c8CurriculumTiers.fn(spark, sf()).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.nonEmpty && rows.map(_._1).toSet.subsetOf(Set(1, 2, 3, 4)))
    val total = graft.tables.Tables.documents(spark, sf())
      .filter(col("text").isNotNull && col("text") =!= "").count()
    assert(rows.map(_._2).sum == total, "tier sizes must sum to the corpus")
    // quartile cuts bound each tier at ~25% ± the mass tied at a cut value
    rows.foreach { case (_, n, lo, hi) => assert(lo <= hi && n > 0) }
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._3, s"tier ${a._1}/${b._1} ranges overlap")
      case _ =>
    }
  }

  test("q40 median/MAD/IQR match a plain-Scala order-statistics recount") {
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val rank = (s.length - 1) * p
      val lo = rank.toInt
      val frac = rank - lo
      if (lo + 1 < s.length) s(lo) + (s(lo + 1) - s(lo)) * frac else s(lo)
    }
    val cents = graft.tables.Tables.orders(spark, sf())
      .select(col("o_orderpriority"), round(col("o_totalprice") * 100).as("c"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val rows = Relational.q40RobustStats.fn(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (prio, n, med, mad, iqr) =
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      val xs = cents(prio)
      assert(n == xs.length)
      assert(med == pct(xs, 0.5), s"$prio median")
      assert(mad == pct(xs.map(x => math.abs(x - med)), 0.5), s"$prio MAD")
      assert(iqr == pct(xs, 0.75) - pct(xs, 0.25), s"$prio IQR")
    }
  }

  test("d10 containment dominates jaccard and catches subset-shaped pairs") {
    val rows = TextOps.d10Containment.fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // max-containment ≥ jaccard algebraically (min ≤ union); and the
    // asymmetric measure must admit pairs the symmetric one rejects
    rows.foreach { case (a, b, c, j) =>
      assert(c >= j, s"pair ($a,$b): containment $c < jaccard $j")
      assert(c >= 0.8 && c <= 1.0)
    }
  }

  test("q41 unpivoted totals equal the wide-form column sums") {
    val wide = graft.tables.Tables.lineitem(spark, sf())
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("quantity"),
        round(sum(col("l_extendedprice")), 2).as("extendedprice"),
        round(sum(col("l_discount")), 2).as("discount"),
        round(sum(col("l_tax")), 2).as("tax"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) ->
        (Map("quantity" -> r.getDouble(1), "extendedprice" -> r.getDouble(2),
          "discount" -> r.getDouble(3), "tax" -> r.getDouble(4)), r.getLong(5))).toMap
    val long = Relational.q41Unpivot.fn(spark, sf()).collect()
    assert(long.length == wide.size * 4, "4 measures per flag")
    long.foreach { r =>
      val (flag, m, n) = (r.getString(0), r.getString(1), r.getLong(2))
      val cents = r.getLong(3)
      val total = r.getDouble(4)
      assert(n == wide(flag)._2, s"$flag/$m row count")
      assert(total == wide(flag)._1(m), s"$flag/$m total")
      // the integer-cent recovery and the display value must agree exactly
      assert(cents / 100.0 == total, s"$flag/$m cents/display mismatch")
    }
  }

  test("s8 series cosine matches a plain-Scala sparse-vector recount") {
    val DayUs = 86400L * 1000000L
    val series = graft.tables.Tables.events(spark, sf())
      .select(col("user_id"), expr(s"unix_micros(ts) DIV $DayUs").as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    def cos(a: Map[Long, Long], b: Map[Long, Long]): Double = {
      val dot = a.keySet.intersect(b.keySet).toSeq.map(d => a(d) * b(d)).sum
      val r = dot / (math.sqrt(a.values.map(v => v * v).sum.toDouble) *
        math.sqrt(b.values.map(v => v * v).sum.toDouble))
      new java.math.BigDecimal(java.lang.Double.toString(r))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val rows = Similarity.s8SeriesSimilarity.fn(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, nn, c) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      assert(q != nn)
      assert(c == cos(series(q), series(nn)), s"cosine($q,$nn)")
    }
    // top-1 really is the max-cosine peer among users sharing a day
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val top = rs.minBy(_.getInt(1))
      val best = series.keys.filter(u => u != q &&
        series(u).keySet.intersect(series(q).keySet).nonEmpty)
        .map(u => cos(series(q), series(u))).max
      assert(top.getDouble(3) == best, s"query $q top-1 not maximal")
    }
  }

  test("t16 bigram surprisal matches a plain-Scala LM recount") {
    // independently retrain the bigram "LM" in driver-side Scala and
    // replay the whole integer pipeline: head-conditional basis points,
    // per-doc mean, rare flags, source rollup
    val docs = graft.tables.Tables.documents(spark, sf())
      .filter(col("text").isNotNull && col("text") =!= "")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).trim.split("\\s+").toSeq))
      .filter(_._3.size >= 2)
    val bigrams = docs.flatMap { case (id, src, w) =>
      w.sliding(2).map(p => (id, src, p.head, p.head + " " + p(1))).toSeq
    }
    val c2 = bigrams.groupBy(_._4).view.mapValues(_.size.toLong).toMap
    val c1 = bigrams.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val perDoc = bigrams.groupBy(b => (b._1, b._2)).map { case ((_, src), bs) =>
      val ps = bs.map(b => c2(b._4) * 10000L / c1(b._3))
      (src, ps.sum / ps.size, bs.size.toLong, ps.count(_ <= 100L).toLong)
    }.toSeq
    val expected = perDoc.groupBy(_._1).view.mapValues { ds =>
      (ds.size.toLong, ds.map(_._2).sum / ds.size,
        ds.count(d => d._4 * 10000L >= d._3 * 2000L).toLong)
    }.toMap
    val got = TextOps.t16BigramSurprisal.fn(spark, sf()).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (nd, mean, ns) = expected(r.getString(0))
      assert(r.getLong(1) == nd && r.getLong(2) == mean && r.getLong(3) == ns,
        s"${r.getString(0)}: got (${r.getLong(1)}, ${r.getLong(2)}, ${r.getLong(3)}) " +
          s"expected ($nd, $mean, $ns)")
    }
    assert(got.length == expected.size)
  }

  test("LSH ANN results are a subset of brute-force candidates' ordering universe") {
    val bf = Similarity.s1AnnBruteForce.fn(spark, sf())
      .filter(col("rn") <= 10).select("q_id", "nn_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.s2AnnLsh.fn(spark, sf())
      .select("q_id", "nn_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bucketed search trades recall for cost; it must still find *something*
    // for at least one query and never invent a self-match
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (q, n) => q != n })
    assert(bf.nonEmpty)
  }
}
