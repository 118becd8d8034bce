package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The radius-complete embedding pair source and its s16 certificate
  * (round-11 verdict #5 — "close the last ~900 bp of embed-bucketed
  * recall, or declare the frontier"; this pair does BOTH):
  *
  *  - [[Similarity.radiusCompleteEmbeddingPairsOf]] assigns every vector
  *    to ALL cells within `√dbest + 2Dq(τ)` (the triangle bound), so any
  *    pair at round-4 cosine ≥ τ shares a cell BY THEOREM — recall is
  *    10000 bp by construction, and this spec measures it anyway.
  *  - The theorem's price is the assignment mass, which the s16
  *    certificate reports per τ WITHOUT running the pair join.  At
  *    τ = 0.4 the bound 2Dq = 1156 exceeds the quantized sphere's
  *    diameter (2·512 + 16 = 1040), so provable completeness forces
  *    cell_mass_bp = 10000 — all-pairs — on ANY corpus: the bucketed
  *    tier's residual ~900 bp at τ = 0.4 is geometry, not tuning.
  *  - At high τ on a clustered corpus the same rule is SELECTIVE: on the
  *    planted fixture at τ = 0.95 every vector keeps exactly one cell
  *    and candidates are exactly the within-cluster volume.
  */
class RadiusCompleteSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    Derivations.clear()
    super.afterAll()
  }

  private def planted(n: Long) = {
    import spark.implicits._
    spark.createDataset(PlantedClusters.corpus(n))
  }

  /** Two 50-vector clusters at cosine 0.97 (angle ≈ 14°) — close enough
    * that every CROSS pair clears τ = 0.95 while plain argmin assignment
    * still separates the clusters into different cells: the exact
    * geometry the radius rule exists for (a τ-pair straddling a cell
    * boundary).  Noise is 10× smaller than PlantedClusters' so the cross
    * cosine stays pinned inside [0.96, 0.98]. */
  private def straddle = {
    import spark.implicits._
    def mix(x: Long): Long = {
      var h = x * 0x9E3779B97F4A7C15L
      h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 27; h *= 0x94D049BB133111EBL
      h ^ (h >>> 31)
    }
    val cosA = 0.97
    val sinA = math.sqrt(1.0 - cosA * cosA)
    spark.createDataset((0L until 100L).map { id =>
      val emb = new Array[Double](64)
      if (id < 50) emb(0) = 1.0
      else { emb(0) = cosA; emb(1) = sinA }
      var i = 0
      while (i < 64) {
        emb(i) += 0.0005 * (mix((id << 8) | i).toDouble / Long.MaxValue)
        i += 1
      }
      (id, emb, math.sqrt(emb.map(x => x * x).sum))
    })
  }

  test("the 2Dq margins are the derived constants (drift tripwire)") {
    // √(2·(1−0.3999))·512 + 16 = 576.9 → ⌈⌉+1 = 578 → 1156; the τ=0.4
    // margin EXCEEDS the quantized sphere diameter 2·512+16 = 1040 —
    // the impossibility theorem the s16 doc states
    assert(Similarity.radiusTwoDq(4000) == 1156)
    assert(Similarity.radiusTwoDq(9500) == 360)
    assert(Similarity.radiusTwoDq(4000) > 2 * Similarity.RadiusQuantScale + 16)
    assert(Similarity.radiusTwoDq(9500) < 2 * Similarity.RadiusQuantScale + 16)
  }

  test("clustered corpus, τ=0.95: complete AND selective — 1 cell/vector, candidates = within-cluster volume") {
    val n = 1000L
    val cs = planted(n)
    val cells = (n / 50).toInt
    val exact95 = Similarity.embeddingPairsOf(spark, cs)
      .filter(col("cosine") >= 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact95.size == cells * (50 * 49 / 2),
      s"fixture drifted: expected within-cluster volume, got ${exact95.size}")
    val (am, _) = Similarity.radiusAssignmentsOf(spark, cs, 9500, cells, 50L)
    val nAssign = am.count()
    assert(nAssign == n,
      s"expected exactly one cell per vector on the separated fixture, got $nAssign")
    val pairs = Similarity.radiusCompleteEmbeddingPairsOf(spark, cs, 9500, cells, 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == exact95,
      s"radius-complete must equal exact at τ=0.95: exact ${exact95.size}, " +
        s"radius ${pairs.size}, missing ${(exact95 -- pairs).take(5)}")
  }

  test("boundary-straddling τ-pairs co-locate by the triangle bound (argmin would lose them)") {
    val cs = straddle
    val exact95 = Similarity.embeddingPairsOf(spark, cs)
      .filter(col("cosine") >= 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixture sanity: ALL pairs qualify (intra ≈ 1.0, cross ≈ 0.97)
    assert(exact95.size == 100 * 99 / 2, s"fixture drifted: ${exact95.size}")
    // plain argmin (probe-1) separates the clusters and LOSES every
    // cross pair — the failure mode the radius rule closes
    val (am1, _) = Similarity.bucketedEmbeddingCandidatesOf(
      spark, cs, cells = 2, probe = 1, seedStride = 50L)
    val argminPairs = am1.count()
    assert(argminPairs < exact95.size,
      s"argmin unexpectedly co-located the straddling clusters ($argminPairs)")
    // the radius assignment puts every vector in BOTH cells (the 2Dq
    // ball covers the 14° gap) and recall is exactly 10000
    val pairs = Similarity.radiusCompleteEmbeddingPairsOf(spark, cs, 9500, 2, 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == exact95,
      s"straddling pairs lost: ${(exact95 -- pairs).take(5)}")
  }

  test("driver corpus, τ=0.4: radius-complete ≡ the exact kernel relation, bit-identical cosines") {
    // completeness proven on REAL data, not just the planted fixture: at
    // τ=0.4 the 2Dq ball covers every cell (the theorem), so the radius
    // source must reproduce d5's exact ≥0.4 relation EXACTLY — same
    // pairs, same round-4 cosines (shared verify arithmetic) — while
    // paying all-pairs candidates, the price s16 names for this regime
    val dir = sf("sf0.001")
    import spark.implicits._
    val corpus = graft.tables.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", Similarity.norm(col("emb")))
      .as[(Long, Array[Double], Double)]
    val exact = Similarity.embeddingPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val radius = Similarity.radiusCompleteEmbeddingPairsOf(spark, corpus, 4000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "vacuous fixture: no exact ≥0.4 pairs at sf0.001")
    assert(radius == exact,
      s"radius-complete must equal exact at τ=0.4: exact ${exact.size}, " +
        s"radius ${radius.size}, missing ${(exact -- radius).take(5)}, " +
        s"invented ${(radius -- exact).take(5)}")
  }

  test("s16 certificate: τ=0.4 reads all-cells on the driver corpus (the theorem), rows replay") {
    val rows = Similarity.s16RadiusCert.fn(spark, sf("sf0.001"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 5 && rows.map(_._1).toSeq == Seq(4000, 5000, 7000, 9000, 9500))
    val n = rows.head._3
    assert(n == 500, s"sf0.001 corpus should be 500 vectors, got $n")
    val at4000 = rows.head
    assert(at4000._4 == n * 10 && at4000._5 == 10000,
      s"τ=0.4 must force every cell (2Dq exceeds the sphere diameter): $at4000")
    // mass is monotone non-increasing in τ (the ball shrinks)
    assert(rows.map(_._5).sliding(2).forall(w => w(0) >= w(1)),
      s"cell mass must shrink with τ: ${rows.map(_._5).toSeq}")
  }
}
