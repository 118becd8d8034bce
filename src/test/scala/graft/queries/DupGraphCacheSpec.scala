package graft.queries

import graft.{SparkEntry, SparkSpec}

/** `spark.graft.dupgraph.cache` — the opt-in shared-dup-graph production
  * pattern: c1/d6/d9 each need the same near-dup graph, and at gate time
  * (per-query isolation) each rebuilds it.  With the conf on, the labels
  * plan is memoized per (session, dataset dir) so the pair generation +
  * propagation — the dominant cost of all three queries — materializes
  * once per session.  This spec proves the cached path is RESULT-IDENTICAL
  * to the isolated path for all three consumers, and that the memo
  * actually hits (same plan object back). */
class DupGraphCacheSpec extends SparkSpec {

  private val consumers = Seq("d6_dup_clusters", "d9_cluster_canonical",
    "c1_corpus_curation", "d13_banding_recall")
  private val confKey = "spark.graft.dupgraph.cache"

  test("cache on ≡ cache off for d6/d9/c1, and the memo hits") {
    val off = consumers.map { name =>
      name -> SparkEntry.queries(name)(spark, sf()).collect().map(_.toString).toSeq
    }.toMap

    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "true")
    try {
      Derivations.clear()
      // memo hit: the second lookup returns the very same plan object
      val first = Dedup.clusterLabels(spark, sf())
      assert(Dedup.clusterLabels(spark, sf()) eq first, "dup-graph memo did not hit")
      val firstPairs = Dedup.dupPairs(spark, sf())
      assert(Dedup.dupPairs(spark, sf()) eq firstPairs, "dup-pairs memo did not hit")
      consumers.foreach { name =>
        val on = SparkEntry.queries(name)(spark, sf()).collect().map(_.toString).toSeq
        assert(on == off(name), s"$name differs with $confKey=true")
      }
      // a different dataset dir is a different memo key, not a stale hit
      assert(!(Dedup.clusterLabels(spark, sf("sf0.01")) eq first))
      // ...and not just a different plan object: with sf0.001's graph
      // already memoized, querying the OTHER dir must return that dir's
      // own results (cross-contamination would hand d6 the wrong corpus)
      val d6Other = SparkEntry.queries("d6_dup_clusters")(spark, sf("sf0.01"))
        .collect().map(_.toString).toSeq
      val d6OtherIso = {
        spark.conf.set(confKey, "false")
        try SparkEntry.queries("d6_dup_clusters")(spark, sf("sf0.01"))
          .collect().map(_.toString).toSeq
        finally spark.conf.set(confKey, "true")
      }
      assert(d6Other == d6OtherIso,
        "cached d6 on a second dataset dir differs from its isolated run")
      // the prefix-filter override is retired: input size alone picks the
      // pair-generation plan, so it is no longer part of the key, and any
      // value fails loudly — even where the memo already holds a plan
      for (v <- Seq("true", "false")) {
        spark.conf.set("spark.graft.jaccard.prefixFilter", v)
        try for (build <- Seq[() => Any](() => Dedup.clusterLabels(spark, sf()),
            () => Dedup.dupPairs(spark, sf()),
            () => TextOps.adaptiveJaccardPairs(spark, sf(), 0.5))) {
          val e = intercept[IllegalArgumentException](build())
          assert(e.getMessage.contains("spark.graft.jaccard.prefixFilter") &&
            e.getMessage.contains(v), e.getMessage)
        } finally spark.conf.unset("spark.graft.jaccard.prefixFilter")
      }
      assert(Dedup.clusterLabels(spark, sf()) eq first, "memo lost across the rejection")
      // the CC round count is part of the key: raising it after a fixpoint
      // failure must yield a fresh plan, not the memoized short one
      val priorRounds = spark.conf.getOption("spark.graft.cc.rounds")
      try {
        spark.conf.set("spark.graft.cc.rounds", "6")
        assert(!(Dedup.clusterLabels(spark, sf()) eq first),
          "raised cc.rounds returned the stale memoized plan")
      } finally priorRounds match {
        case Some(v) => spark.conf.set("spark.graft.cc.rounds", v)
        case None    => spark.conf.unset("spark.graft.cc.rounds")
      }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
      Derivations.clear()
    }
  }
}
