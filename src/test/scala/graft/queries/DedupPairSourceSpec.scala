package graft.queries

import graft.{SparkEntry, SparkSpec}

/** `spark.graft.dedup.pairs = exact | banded` — the tier flip the d13
  * banding-recall audit exists to authorize: once d13 certifies zero
  * banding loss (recall_bp = 10000) on a corpus, the exact ≥0.5 Jaccard
  * pair join (whose candidate step scales with shingle co-occurrence) can
  * be retired for d3's banded pipeline (candidates bounded by band-bucket
  * occupancy — the 100 TB path).  Equal pair sets make every downstream
  * consumer byte-identical; this spec pins exactly that, plus the audit's
  * own independence from the conf (d13's ground truth must stay exact, or
  * the flipped tier would be graded against itself).
  *
  * Since round 9 `banded` IS the default (the certificate below is what
  * authorized the flip); `exact` is the opt-out audit config.  The
  * default-equals-banded identity is pinned here too, and the driver's
  * DuckDB gate re-proves default ≡ exact-stated-oracle on every run. */
class DedupPairSourceSpec extends SparkSpec {

  private val ConfKey = "spark.graft.dedup.pairs"
  private val consumers = Seq("d6_dup_clusters", "d9_cluster_canonical",
    "c1_corpus_curation", "d13_banding_recall")

  private def withPairSource[A](v: Option[String])(body: => A): A = {
    val prior = spark.conf.getOption(ConfKey)
    try {
      v.fold(spark.conf.unset(ConfKey))(spark.conf.set(ConfKey, _))
      body
    } finally prior match {
      case Some(p) => spark.conf.set(ConfKey, p)
      case None    => spark.conf.unset(ConfKey)
    }
  }

  private def run(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf()).collect().map(_.toString).toSeq

  test("banded pair source ≡ exact for every dedup-tier consumer (d13-certified corpus)") {
    // precondition the flip depends on: the audit reports zero banding
    // loss on this corpus — if this ever regresses, the equality below
    // is ALLOWED to break, and this assert points at the real cause
    val audit = SparkEntry.queries("d13_banding_recall")(spark, sf()).collect().head
    assert(audit.getAs[Long]("recall_bp") == 10000L,
      s"d13 no longer certifies zero banding loss on the driver corpus: $audit")
    val exact = consumers.map(n => n -> withPairSource(Some("exact"))(run(n))).toMap
    consumers.foreach { name =>
      val banded = withPairSource(Some("banded"))(run(name))
      assert(banded == exact(name), s"$name differs under $ConfKey=banded")
      // the conf default is banded (the round-9 flip): an unset conf must
      // take the banded path and land on the same certified output
      val dflt = withPairSource(None)(run(name))
      assert(dflt == exact(name), s"$name differs under the unset (banded) default")
    }
  }

  test("banded source composes with the dupgraph cache (fresh memo key per source)") {
    val cacheKey = "spark.graft.dupgraph.cache"
    val priorCache = spark.conf.getOption(cacheKey)
    spark.conf.set(cacheKey, "true")
    try {
      Derivations.clear()
      val exactPlan = withPairSource(Some("exact"))(Dedup.dupPairs(spark, sf()))
      // flipping the source must build a fresh plan, not hand back the
      // memoized exact relation under a banded label (and vice versa)
      val bandedPlan = withPairSource(Some("banded"))(Dedup.dupPairs(spark, sf()))
      assert(!(bandedPlan eq exactPlan), "pair-source flip reused the exact-plan memo")
      assert(withPairSource(Some("banded"))(Dedup.dupPairs(spark, sf())) eq bandedPlan)
      // the unset default resolves to banded and therefore SHARES the
      // banded memo entry — one materialization, not two
      assert(withPairSource(None)(Dedup.dupPairs(spark, sf())) eq bandedPlan,
        "unset default did not share the banded memo entry")
      val bandedLabels = withPairSource(Some("banded"))(Dedup.clusterLabels(spark, sf()))
      assert(!(withPairSource(Some("exact"))(Dedup.clusterLabels(spark, sf())) eq bandedLabels))
      assert(withPairSource(None)(Dedup.clusterLabels(spark, sf())) eq bandedLabels,
        "unset default did not share the banded labels memo entry")
      // cached-banded results still match the isolated exact run
      val d6Banded = withPairSource(Some("banded"))(run("d6_dup_clusters"))
      val d6Exact = {
        spark.conf.set(cacheKey, "false")
        try withPairSource(Some("exact"))(run("d6_dup_clusters"))
        finally spark.conf.set(cacheKey, "true")
      }
      assert(d6Banded == d6Exact, "cached banded d6 differs from isolated exact d6")
    } finally {
      priorCache match {
        case Some(v) => spark.conf.set(cacheKey, v)
        case None    => spark.conf.unset(cacheKey)
      }
      Derivations.clear()
    }
  }

  test("an invalid pair-source value fails loudly at construction") {
    val e = intercept[IllegalArgumentException] {
      withPairSource(Some("approximate"))(Dedup.dupPairs(spark, sf()))
    }
    assert(e.getMessage.contains("spark.graft.dedup.pairs"))
  }
}
