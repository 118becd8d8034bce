package graft.queries

import graft.SparkSpec

/** The batch banded join's hot-bucket guard (round-9 verdict finding #2):
  * `bandedJaccardPairs` self-joins the band-bucket relation on
  * (band, bv), so a bucket of occupancy k emits k² candidates — the
  * boilerplate-bucket explosion the STREAMING twin already fails loudly
  * on (`LiveNearDup.maxBucket`).  Since round 9 the banded join is the
  * DEFAULT pair source for the whole dedup tier, so the batch path must
  * carry the same discipline: a planted over-cap bucket must kill the
  * query with a loud, actionable error — never silently attempt (or
  * worse, truncate) the k² expansion — and the guard must be invisible
  * below the cap (byte-identical pair output).
  */
class BandedHotBucketSpec extends SparkSpec {

  /** A corpus of `n` IDENTICAL documents (+ distinct singletons): the
    * identical docs share every shingle, hence every minhash signature,
    * hence every (band, bv) key — one bucket of occupancy `n` in each of
    * the 4 bands.  Deterministic by construction, no banding-probability
    * caveat (the known-colliding-fixture rule). */
  private def corpusDir(n: Int): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"hotbucket-$n").toString
    val boiler = "all rights reserved contact the site operator for details"
    val rows = (0 until n).map(i =>
      (i.toLong, boiler, "en", "web", boiler.length.toLong)) ++
      Seq((1000L, "a completely unrelated singleton document text", "en", "web", 46L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("an over-cap bucket fails loudly with the occupancy accounting") {
    val dir = corpusDir(10)
    spark.conf.set("spark.graft.dedup.maxBucket", "3")
    try {
      val e = intercept[Exception] {
        Dedup.bandedJaccardPairs(spark, dir).collect()
      }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("hot bucket"), s"wrong failure: $e")
      assert(msg.contains("maxBucket=3"), s"cap missing from message: $msg")
      assert(msg.contains("occupancy 10"), s"occupancy missing: $msg")
      // the message NAMES the offending bucket (band + bucket value)
      assert(msg.contains("band ") && msg.contains("bucket "),
        s"bucket identity missing: $msg")
    } finally spark.conf.unset("spark.graft.dedup.maxBucket")
  }

  test("with the dup-graph cache on, raising the cap after a failure builds afresh") {
    val dir = corpusDir(10)
    spark.conf.set("spark.graft.dedup.maxBucket", "3")
    try {
      Derivations.clear()
      val e = intercept[Exception](Dedup.dupPairs(spark, dir).collect())
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("maxBucket=3"), s"wrong failure: $e")
      intercept[Exception](Dedup.clusterLabels(spark, dir).collect())
      // the error's own remedy, in the same session: raise the cap
      spark.conf.set("spark.graft.dedup.maxBucket", "10")
      assert(Dedup.dupPairs(spark, dir).collect().length == 45,
        "raised maxBucket returned the failing memoized pair plan")
      assert(Dedup.clusterLabels(spark, dir).collect().length == 10,
        "raised maxBucket returned the failing memoized labels plan")
    } finally {
      spark.conf.unset("spark.graft.dedup.maxBucket")
      Derivations.clear()
    }
  }

  test("below the cap the guard is invisible: complete pair set, exact jaccard") {
    val dir = corpusDir(10)
    // default cap (100000) — guard passes; 10 identical docs yield all
    // C(10,2)=45 pairs at jaccard 1.0 and the singleton pairs with nothing
    val got = Dedup.bandedJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = (for {
      a <- 0 until 10; b <- (a + 1) until 10
    } yield (a.toLong, b.toLong, 1.0)).toSet
    assert(got == want, s"pair set wrong: got ${got.size}, want ${want.size}")
  }

  test("an empty corpus passes the guard vacuously") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hotbucket-empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Dedup.bandedJaccardPairs(spark, dir).collect().isEmpty)
  }
}
