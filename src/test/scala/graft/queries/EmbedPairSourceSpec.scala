package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The embedding dup graph's config-selectable pair source (round-9
  * verdict #1 — `spark.graft.embed.pairs = exact | bucketed`, the twin
  * of `spark.graft.dedup.pairs`) and the regime split the d15
  * certificate encodes:
  *
  *  - On the driver corpus (near-isotropic, borderline-dominated) the
  *    bucketed tier LOSES borderline pairs — d15 measures it, the
  *    default stays `exact`, and this spec pins the loss is
  *    PRECISION-FREE: every bucketed pair is an exact pair with a
  *    bit-identical cosine.
  *  - On a clustered corpus (the regime the tier is designed for — the
  *    SemDeDup assumption; real embedding collections cluster) the
  *    bucketed tier is LOSSLESS: byte-identical pair sets, identical d7
  *    cluster labels, and candidate volume that grows LINEARLY with the
  *    corpus at fixed cell occupancy where the exact kernel's
  *    comparison count grows at ~n^1.85 (D5ScalingSpec) — the
  *    SCALING.md curve.
  */
class EmbedPairSourceSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  // builders in this suite register persisted intermediates via
  // Derivations.persist — reclaim them so a full-suite run over a
  // shared session doesn't accumulate cache entries (round-10 ADVICE)
  override def afterAll(): Unit = {
    Derivations.clear()
    super.afterAll()
  }


  private def corpus(n: Long) = {
    import spark.implicits._
    spark.createDataset(PlantedClusters.corpus(n))
  }

  test("bucketed pairs are a SUBSET of exact pairs with bit-identical cosines (driver corpus)") {
    val dir = sf("sf0.01")
    val exact = Similarity.embeddingPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bucketed = Similarity.bucketedEmbeddingPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(bucketed.nonEmpty, "bucketed tier found nothing — vacuous test")
    bucketed.foreach { case (pair, cos) =>
      assert(exact.contains(pair), s"bucketed invented pair $pair (precision broke)")
      assert(exact(pair) == cos, s"cosine drifted on $pair: ${exact(pair)} vs $cos")
    }
    // the measured regime: this corpus DOES lose recall (borderline
    // pairs), which is exactly why the default stays `exact`
    assert(bucketed.size < exact.size,
      "driver corpus unexpectedly lossless — revisit the default-flip decision")
  }

  test("clustered regime: bucketed ≡ exact byte-identical, d7 labels identical") {
    val n = 1000L
    val cs = corpus(n)
    val cells = (n / 50).toInt // one cell per planted cluster
    val exact = Similarity.embeddingPairsOf(spark, cs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bucketed = Similarity.bucketedEmbeddingPairsOf(spark, cs,
        cells = cells, probe = 2, seedStride = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact == bucketed,
      s"clustered corpus lost pairs: exact ${exact.size}, bucketed ${bucketed.size}, " +
        s"missing ${(exact -- bucketed).take(5)}")
    // cluster labels downstream are therefore identical too (same edges
    // into the same propagation core)
    def labels(pairs: Set[(Long, Long, Double)]) = {
      import spark.implicits._
      val df = pairs.toSeq.map(p => (p._1, p._2)).toDF("doc_a", "doc_b")
      Dedup.propagateLabels(spark, df, rounds = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(labels(exact) == labels(bucketed))
  }

  test("candidate volume grows linearly at fixed cell occupancy (the exact kernel is ~n^1.85)") {
    val sizes = Seq(1000L, 2000L, 4000L)
    val counts = sizes.map { n =>
      val (cand, _) = Similarity.bucketedEmbeddingCandidatesOf(spark, corpus(n),
        cells = (n / 50).toInt, probe = 2, seedStride = 50L)
      val c = cand.count()
      info(f"n=$n%5d cells=${n / 50}%3d candidates=$c%8d frac=${c.toDouble / (n * (n - 1) / 2)}%.4f")
      n -> c
    }
    val Seq((_, c1), (_, c2), (_, c4)) = counts
    // doubling the corpus at fixed occupancy must roughly double (never
    // quadruple) the candidate volume — the complexity-class claim the
    // exact kernel cannot make (D5ScalingSpec: x3.49 / x12.95)
    assert(c2.toDouble / c1 < 3.0, s"n→2n candidate growth ${c2.toDouble / c1}")
    assert(c4.toDouble / c2 < 3.0, s"2n→4n candidate growth ${c4.toDouble / c2}")
    val exponent = math.log(c4.toDouble / c1) / math.log(4.0)
    info(f"candidate growth exponent ≈ $exponent%.2f")
    assert(exponent < 1.6, s"candidate exponent $exponent not meaningfully sub-quadratic")
  }

  test("d15 certificate arithmetic recounts from the composed relations (sf0.001)") {
    val dir = sf()
    val exact = Similarity.embedPairs(spark, dir, sourceOverride = Some("exact"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.embedPairs(spark, dir, sourceOverride = Some("bucketed"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (exact & bucketed).size
    val row = Similarity.d15EmbedRecall.fn(spark, dir).collect().head
    assert(row.getLong(0) == exact.size && row.getLong(1) == bucketed.size &&
      row.getLong(2) == hits, s"certificate counts drifted: $row")
    assert(row.getLong(3) == hits.toLong * 10000 / math.max(exact.size, 1),
      "recall_bp arithmetic drifted")
    assert(row.getLong(4) == 10000,
      "precision must be exact by construction (shared verify)")
  }

  test("the conf selects the source; an invalid value fails loudly") {
    val dir = sf()
    val viaDefault = Similarity.embedPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaExact = Similarity.embedPairs(spark, dir, sourceOverride = Some("exact"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDefault == viaExact, "default source must be exact (d15 forbids the flip)")
    spark.conf.set("spark.graft.embed.pairs", "bucketed")
    try {
      val viaConf = Similarity.embedPairs(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = Similarity.embedPairs(spark, dir, sourceOverride = Some("bucketed"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaConf == direct)
      spark.conf.set("spark.graft.embed.pairs", "nonsense")
      intercept[IllegalArgumentException] {
        Similarity.embedPairs(spark, dir)
      }
    } finally spark.conf.unset("spark.graft.embed.pairs")
  }
}
