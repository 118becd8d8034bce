package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The recall-floor guard (round-10 verdict #4): flipping a dup-graph
  * tier to its bucketed/banded pair source under a `minRecallBp` floor
  * must measure the corpus's certificate and fail LOUDLY below the
  * floor — the d15/d13 audit wired into the engine's own guardrail
  * instead of living in a code comment.  Four contracts per graph:
  *
  *  1. LOUD: a corpus whose measured certificate is below the floor
  *     kills the first action with an error naming the measured recall,
  *     the conf, and the floor.
  *  2. INVISIBLE: at-or-above the floor the guard changes nothing —
  *     byte-identical pair output.
  *  3. WARN: `recallGuard=warn` logs instead of failing and the pairs
  *     flow.
  *  4. UNGUARDED AUDIT: the certificate machinery itself (d15/d13 via
  *     sourceOverride) never trips the guard — guarding the measurement
  *     would be circular.
  *
  * The embedding graph's planted low-recall corpus is the DRIVER corpus
  * itself (d15 measures ≈ 7400 bp at sf0.001 — near-isotropic, the
  * regime bucketing cannot cover); the Jaccard graph's is a planted
  * borderline-pair corpus, searched at spec time for a variant whose
  * banding DETERMINISTICALLY misses (the known-colliding-fixture rule:
  * banding misses are deterministic per text, probabilistic by design
  * across texts, so the fixture verifies its own precondition). */
class RecallGuardSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    Derivations.clear()
    super.afterAll()
  }

  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def failureMessage(e: Throwable): String =
    (Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .flatMap(t => Option(t.getMessage)).mkString(" | "))

  // ------------------------------------------------------------ embed

  test("embed: below-floor corpus fails loudly with the measured number") {
    withConfs(
      "spark.graft.embed.pairs" -> "bucketed",
      "spark.graft.embed.minRecallBp" -> "9999") {
      val e = intercept[Exception] {
        Similarity.embedPairs(spark, sf()).collect()
      }
      val msg = failureMessage(e)
      assert(msg.contains("recall-floor guard"), s"wrong failure: $msg")
      assert(msg.contains("spark.graft.embed.minRecallBp=9999"), msg)
      // the measured certificate (a concrete bp number < 9999) is named
      assert("recall (\\d+) bp".r.findFirstMatchIn(msg)
        .exists(_.group(1).toLong < 9999L), s"measured bp missing: $msg")
    }
  }

  test("embed: at-or-below-measured floor is invisible (identical pairs)") {
    val unguarded = withBucketed { Similarity.embedPairs(spark, sf()) }
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withConfs(
      "spark.graft.embed.pairs" -> "bucketed",
      "spark.graft.embed.minRecallBp" -> "1") {
      val got = Similarity.embedPairs(spark, sf())
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == unguarded, "guard changed the passing pair set")
    }
  }

  test("embed: warn mode lets a below-floor corpus flow") {
    withConfs(
      "spark.graft.embed.pairs" -> "bucketed",
      "spark.graft.embed.minRecallBp" -> "9999",
      "spark.graft.embed.recallGuard" -> "warn") {
      assert(Similarity.embedPairs(spark, sf()).count() > 0)
    }
  }

  test("embed: d15's own bucketed measurement is never guarded") {
    withConfs(
      "spark.graft.embed.pairs" -> "bucketed",
      "spark.graft.embed.minRecallBp" -> "9999") {
      // d15 pins both sources via sourceOverride — the audit must run
      // (and report the sub-floor number) even while the guard is armed
      val row = Similarity.d15EmbedRecall.fn(spark, sf()).collect().head
      assert(row.getLong(3) < 9999L, s"expected sub-floor recall: $row")
    }
  }

  test("embed: an invalid recallGuard mode is rejected by name") {
    withConfs(
      "spark.graft.embed.pairs" -> "bucketed",
      "spark.graft.embed.minRecallBp" -> "1",
      "spark.graft.embed.recallGuard" -> "maybe") {
      val e = intercept[IllegalArgumentException] {
        Similarity.embedPairs(spark, sf())
      }
      assert(e.getMessage.contains("recallGuard"), e.getMessage)
    }
  }

  private def withBucketed[T](body: => T): T = {
    spark.conf.set("spark.graft.embed.pairs", "bucketed")
    try body finally spark.conf.unset("spark.graft.embed.pairs")
  }

  // ------------------------------------------------------------ dedup

  /** A corpus with one high-jaccard pair (banding always catches — all
    * 16 minhashes equal) plus one borderline pair SEARCHED so that its
    * banding deterministically misses: exact ≥0.5 contains both pairs,
    * banded contains one → recall 5000 bp.  The search verifies the
    * precondition instead of trusting banding probabilities. */
  private def writeCorpus(dir: String, rows: Seq[(Long, String)]): Unit = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        org.apache.spark.sql.functions.lit("en").as("lang"),
        org.apache.spark.sql.functions.lit("web").as("source"),
        org.apache.spark.sql.functions.length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private lazy val lowRecallDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("recallguard").toString
    // 40 candidate borderline pairs, disjoint vocabularies: each pair
    // shares a 28-word prefix (26 of each doc's 38 trigram shingles →
    // jaccard 26/50 = 0.52, inside [0.5, 0.6) where one 4-row band
    // matches with probability j⁴ ≈ 7% — most candidates miss all 4
    // bands, DETERMINISTICALLY for their text).  One probe run over all
    // candidates at once finds the misses.
    def pairOf(k: Int): (String, String) = {
      val shared = (0 until 28).map(i => s"b${k}w$i")
      val a = (shared ++ (0 until 12).map(i => s"b${k}a$i")).mkString(" ")
      val b = (shared ++ (0 until 12).map(i => s"b${k}b$i")).mkString(" ")
      (a, b)
    }
    val probe = java.nio.file.Files.createTempDirectory("rgprobe").toString
    writeCorpus(probe, (0 until 40).flatMap { k =>
      val (a, b) = pairOf(k)
      Seq((100L + 2 * k, a), (101L + 2 * k, b))
    })
    val exact = TextOps.adaptiveJaccardPairs(spark, probe, 0.5, global = true)
      .select(col("doc_a")).collect().map(_.getLong(0)).toSet
    val banded = Dedup.bandedJaccardPairs(spark, probe)
      .select(col("doc_a")).collect().map(_.getLong(0)).toSet
    val missK = (0 until 40).find { k =>
      exact.contains(100L + 2 * k) && !banded.contains(100L + 2 * k)
    }
    assert(missK.nonEmpty,
      "fixture precondition failed: no candidate pair with a deterministic band miss")
    // final corpus: the searched borderline pair + an identical pair the
    // banding always catches (all 16 minhashes equal) → exact = 2 pairs,
    // banded = 1 → recall exactly 5000 bp
    val (a, b) = pairOf(missK.get)
    val caught = "all rights reserved contact the operator for details " +
      "about licensing and reuse of this document text body"
    writeCorpus(dir, Seq((0L, a), (1L, b), (10L, caught), (11L, caught)))
    dir
  }

  test("dedup: a planted low-recall corpus fails loudly under the floor") {
    withConfs("spark.graft.dedup.minRecallBp" -> "10000") {
      // default pair source is already banded — the floor arms the guard
      val e = intercept[Exception] {
        Dedup.dupPairs(spark, lowRecallDir).collect()
      }
      val msg = failureMessage(e)
      assert(msg.contains("recall-floor guard"), s"wrong failure: $msg")
      assert(msg.contains("spark.graft.dedup.minRecallBp=10000"), msg)
      assert(msg.contains("recall 5000 bp"), s"measured number missing: $msg")
    }
  }

  test("dedup: driver corpus (certificate 10000) passes the strictest floor") {
    val unguarded = Dedup.dupPairs(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withConfs("spark.graft.dedup.minRecallBp" -> "10000") {
      val got = Dedup.dupPairs(spark, sf())
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == unguarded, "guard changed the passing pair set")
    }
  }

  test("dedup: warn mode lets the low-recall corpus flow") {
    withConfs(
      "spark.graft.dedup.minRecallBp" -> "10000",
      "spark.graft.dedup.recallGuard" -> "warn") {
      // both pairs of the banded relation flow: the caught identical pair
      assert(Dedup.dupPairs(spark, lowRecallDir).count() == 1L)
    }
  }

  test("dedup: d13's audit override is never guarded") {
    withConfs("spark.graft.dedup.minRecallBp" -> "10000") {
      val row = Dedup.d13BandingRecall.fn(spark, lowRecallDir).collect().head
      assert(row.getLong(3) == 5000L, s"expected the sub-floor audit row: $row")
    }
  }

  test("embed sampled certificate: production geometry over the thinned slice") {
    // The round-11 ADVICE bug: embedRecallCert passed seedStride=1, so a
    // sampled slice (vec_id % mod == 0) with mod >= cells kept ONE seed
    // (vec_id 0), every pair co-located, and the sampled certificate
    // read an unconditional 10000 bp — vacuous exactly in the at-scale
    // sampling mode it exists for.  This corpus makes the fixed stride
    // observable: ids 0,10,..,90 are 10 orthogonal cluster seeds
    // (4·e_i in the first 16 of the 64 contract dims — the grid guard
    // rejects any other length), id 100 sits 15° off e_0, id 110 sits
    // 15° off e_1 (75° off e_0).  Over the mod-10 slice the exact >= 0.4 kernel
    // holds 3 pairs — (0,100) and (10,110) at cos 15° ~ 0.966, and
    // (100,110) at cos 60° = 0.5 — and with all 10 cells seeded the
    // bucketed source co-locates the first two but NEVER the straddling
    // third (each side's runner-up cell fails the 25% boundary gate by
    // ~70x), so the certificate measures exactly floor(2/3 · 10000) =
    // 6666 bp and the guard must TRIP.  Under the old one-seed geometry
    // it could never trip.  id 105 (a copy of 100, excluded by the mod)
    // pins the thinning too: its inclusion would change the ratio.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("embedsampled").toString
    def at(deg: Double, i: Int, j: Int): Seq[Float] = {
      val v = Array.fill(64)(0.0f)
      val r = math.toRadians(deg)
      v(i) = (4.0 * math.cos(r)).toFloat
      v(j) = (4.0 * math.sin(r)).toFloat
      v.toSeq
    }
    val seeds = (0 until 10).map(i => (i * 10L, at(0.0, i, (i + 1) % 16)))
    val rows = seeds ++ Seq(
      (100L, at(15.0, 0, 1)), (105L, at(15.0, 0, 1)), (110L, at(75.0, 0, 1)))
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    withConfs(
      "spark.graft.embed.pairs" -> "bucketed",
      "spark.graft.embed.minRecallBp" -> "10000",
      "spark.graft.embed.recallSampleMod" -> "10") {
      val e = intercept[Exception] {
        Similarity.embedPairs(spark, dir).collect()
      }
      val msg = failureMessage(e)
      assert(msg.contains("recall-floor guard"), s"wrong failure: $msg")
      assert(msg.contains("recall 6666 bp"),
        s"sampled certificate must measure 2-of-3 over the thinned slice " +
          s"with all 10 cells seeded (one-seed geometry reads 10000): $msg")
    }
  }

  test("sampled certificate: recallSampleMod thins deterministically and still guards") {
    // the low-recall fixture has doc_ids 0,1 (borderline pair) and 10,11
    // (identical pair); sampleMod=2 keeps the EVEN ids only — doc 1 and
    // 11 drop out, both pairs dissolve, and the sampled certificate is
    // vacuously 10000 (nothing ≥0.5 remains to lose), so the strictest
    // floor PASSES where the full measurement fails.  This is precisely
    // the documented trade of sampling (a sampled certificate can miss),
    // proven here in the deterministic direction; the pair output under
    // the passing sampled guard stays byte-identical to the unguarded
    // relation.
    withConfs(
      "spark.graft.dedup.minRecallBp" -> "10000",
      "spark.graft.dedup.recallSampleMod" -> "2") {
      val got = Dedup.dupPairs(spark, lowRecallDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((10L, 11L)), s"sampled-guard pair set wrong: $got")
    }
    // same session, same dir, full measurement (mod unset ⇒ 1): the memo
    // must key by sampleMod and re-measure — the guard now trips
    withConfs("spark.graft.dedup.minRecallBp" -> "10000") {
      val e = intercept[Exception] {
        Dedup.dupPairs(spark, lowRecallDir).collect()
      }
      assert(failureMessage(e).contains("recall 5000 bp"),
        s"full measurement after sampled one must re-trip: ${failureMessage(e)}")
    }
  }

  // ----------------------------------------------------------- radius
  // round-12 verdict #5: the s16 radius-complete source wired as the
  // third conf-selectable pair source, guarded by the MASS meter (the
  // theorem is built; this is the policy wiring).

  test("radius: the default flip fails loudly — the theorem says the ball is all-pairs at tau=4000") {
    withConfs("spark.graft.embed.pairs" -> "radius") {
      val e = intercept[Exception] {
        Similarity.embedPairs(spark, sf()).collect()
      }
      val msg = failureMessage(e)
      assert(msg.contains("radius-mass guard"), s"wrong failure: $msg")
      assert(msg.contains("spark.graft.embed.radius.maxCellMassBp=5000"), msg)
      // the measured mass is named and is the theorem's 10000
      assert(msg.contains("cell_mass_bp 10000"), s"measured mass missing: $msg")
    }
  }

  test("radius: with the cap deliberately raised, pairs EQUAL the exact source (completeness)") {
    val exact = Similarity.embedPairs(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withConfs(
      "spark.graft.embed.pairs" -> "radius",
      "spark.graft.embed.radius.maxCellMassBp" -> "10000") {
      val got = Similarity.embedPairs(spark, sf())
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exact,
        s"radius source must be COMPLETE: |radius|=${got.size} |exact|=${exact.size}, " +
          s"missing=${(exact -- got).take(3)}, extra=${(got -- exact).take(3)}")
    }
  }

  test("radius: warn mode lets the over-mass flip flow") {
    withConfs(
      "spark.graft.embed.pairs" -> "radius",
      "spark.graft.embed.recallGuard" -> "warn") {
      assert(Similarity.embedPairs(spark, sf()).count() > 0)
    }
  }

  test("radius: an invalid pairs source is still rejected by name") {
    withConfs("spark.graft.embed.pairs" -> "spherical") {
      val e = intercept[IllegalArgumentException] {
        Similarity.embedPairs(spark, sf())
      }
      assert(e.getMessage.contains("'exact', 'bucketed' or 'radius'"), e.getMessage)
    }
  }
}
