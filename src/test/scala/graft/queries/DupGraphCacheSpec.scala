package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The shared dup graph: c1/d6/d9 each need the same near-dup graph,
  * and d13 audits the pair relation under it.  The labels and pair
  * plans are session derivations keyed per (session, dataset dir,
  * corpus stamp, shaping confs), so the pair generation + propagation —
  * the dominant cost of all four queries — materializes once per
  * session.  This spec proves a memo hit is RESULT-IDENTICAL to a fresh
  * build after `Derivations.clear()` for every consumer, that the memo
  * actually hits (same plan object back), and that the retired
  * per-query opt-out and columnar cut fail loudly, memo hit or not. */
class DupGraphCacheSpec extends SparkSpec {

  private val consumers = Seq("d6_dup_clusters", "d9_cluster_canonical",
    "c1_corpus_curation", "d13_banding_recall")
  private val retiredKey = "spark.graft.dupgraph.cache"

  private def rows(name: String, dir: String = sf()): Seq[String] =
    SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq

  /** `name`'s rows from a fresh build: nothing shared with earlier runs. */
  private def fresh(name: String, dir: String = sf()): Seq[String] = {
    Derivations.clear()
    rows(name, dir)
  }

  test("cache on ≡ cache off for d6/d9/c1, and the memo hits") {
    val isolated = consumers.map(name => name -> fresh(name)).toMap
    try {
      Derivations.clear()
      // memo hit: the second lookup returns the very same plan object
      val first = Dedup.clusterLabels(spark, sf())
      assert(Dedup.clusterLabels(spark, sf()) eq first, "dup-graph memo did not hit")
      val firstPairs = Dedup.dupPairs(spark, sf())
      assert(Dedup.dupPairs(spark, sf()) eq firstPairs, "dup-pairs memo did not hit")
      consumers.foreach { name =>
        assert(rows(name) == isolated(name), s"$name differs on a memo hit")
      }
      // a different dataset dir is a different memo key, not a stale hit
      assert(!(Dedup.clusterLabels(spark, sf("sf0.01")) eq first))
      // ...and not just a different plan object: with sf0.001's graph
      // already memoized, querying the OTHER dir must return that dir's
      // own results (cross-contamination would hand d6 the wrong corpus)
      val d6Other = rows("d6_dup_clusters", sf("sf0.01"))
      assert(d6Other == fresh("d6_dup_clusters", sf("sf0.01")),
        "shared d6 on a second dataset dir differs from its fresh build")
      val sharedAgain = Dedup.clusterLabels(spark, sf())
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
      assert(Dedup.clusterLabels(spark, sf()) eq sharedAgain, "memo lost across the rejection")
      // the CC round count is part of the key: raising it after a fixpoint
      // failure must yield a fresh plan, not the memoized short one
      val priorRounds = spark.conf.getOption("spark.graft.cc.rounds")
      try {
        spark.conf.set("spark.graft.cc.rounds", "6")
        assert(!(Dedup.clusterLabels(spark, sf()) eq sharedAgain),
          "raised cc.rounds returned the stale memoized plan")
      } finally priorRounds match {
        case Some(v) => spark.conf.set("spark.graft.cc.rounds", v)
        case None    => spark.conf.unset("spark.graft.cc.rounds")
      }
    } finally Derivations.clear()
  }

  test("d13 takes a side the session already holds from the registry") {
    Derivations.clear()
    try {
      def pairBuilds = Derivations.report().get("dupPairs").map(_.builds).getOrElse(0L)
      val d13Alone = rows("d13_banding_recall")
      // run alone, d13 builds both sides and leaves them for the graph
      assert(pairBuilds == 2)
      Seq("exact", "banded").foreach(src => Dedup.dupPairs(spark, sf(), Some(src)))
      assert(pairBuilds == 2, "the graph rebuilt a pair relation d13 already holds")
      Derivations.clear()
      // built by the graph first, the banded side is the one d13 reads
      Dedup.dupPairs(spark, sf(), Some("banded"))
      assert(rows("d13_banding_recall") == d13Alone)
      val st = Derivations.report()("dupPairs")
      assert(st.builds == 2 && st.hits == 1,
        s"d13 rebuilt the banded side instead of taking it from the registry: $st")
    } finally Derivations.clear()
  }

  test("the retired columnar lineage cut fails on a dup-graph memo hit too") {
    val cutKey = "spark.graft.cut.persist"
    Derivations.clear()
    try {
      val d6 = rows("d6_dup_clusters")
      // the session now holds the graph, so the next d6 builds no cut
      val held = Dedup.clusterLabels(spark, sf())
      spark.conf.set(cutKey, "columnar")
      val e = try intercept[IllegalArgumentException](rows("d6_dup_clusters"))
        finally spark.conf.unset(cutKey)
      assert(e.getMessage.contains(cutKey) && e.getMessage.contains("columnar"), e.getMessage)
      spark.conf.set(cutKey, "rdd")
      try assert(rows("d6_dup_clusters") == d6, s"d6 differs under $cutKey=rdd")
      finally spark.conf.unset(cutKey)
      assert(Dedup.clusterLabels(spark, sf()) eq held, "memo lost across the rejection")
    } finally Derivations.clear()
  }

  test("the retired per-query dup graph: false throws, true leaves the rows unchanged") {
    val isolated = Seq("d6_dup_clusters", "d13_banding_recall").map(n => n -> fresh(n)).toMap
    try {
      spark.conf.set(retiredKey, "false")
      for (build <- Seq[() => Any](() => Dedup.clusterLabels(spark, sf()),
          () => Dedup.dupPairs(spark, sf()),
          () => SparkEntry.queries("d13_banding_recall")(spark, sf()))) {
        val e = intercept[IllegalArgumentException](build())
        assert(e.getMessage.contains(retiredKey) && e.getMessage.contains("false"),
          e.getMessage)
      }
      spark.conf.set(retiredKey, "true")
      isolated.foreach { case (name, want) =>
        assert(fresh(name) == want, s"$name differs under $retiredKey=true")
      }
    } finally {
      spark.conf.unset(retiredKey)
      Derivations.clear()
    }
  }
}
