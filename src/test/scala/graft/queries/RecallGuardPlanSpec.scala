package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Plan-shape gates for the recall-floor guard — the structural claims
  * RecallGuardSpec's behavior tests rest on:
  *
  *  1. The guard composes as a UNION, never a join: no CartesianProduct
  *     and no BroadcastExchange may enter the pair plan through the
  *     guard branch — a broadcast inside the dedup tier's lineage-cut
  *     subplan submits its relation future during RDD construction (the
  *     hot-bucket guard's rationale, Dedup.scala), and a cartesian is
  *     banned repo-wide.
  *  2. The guard branch is plan-visible (a Union node appears), so the
  *     certificate demonstrably rides the SAME action as the pairs —
  *     not an eager driver-side measurement in `fail` mode.
  */
class RecallGuardPlanSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    Derivations.clear()
    super.afterAll()
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("guarded dedup pair plan: Union present, no CartesianProduct anywhere") {
    spark.conf.set("spark.graft.dedup.minRecallBp", "1")
    try {
      val plan = planOf(Dedup.dupPairs(spark, sf()))
      assert(plan.contains("Union"), "guard branch missing from the plan")
      assert(!plan.contains("CartesianProduct"),
        s"cartesian in the guarded plan:\n${plan.take(2000)}")
    } finally spark.conf.unset("spark.graft.dedup.minRecallBp")
  }

  test("the guard's cert subplan adds no broadcast below the pair relation") {
    spark.conf.set("spark.graft.dedup.minRecallBp", "1")
    try {
      val guarded = planOf(Dedup.dupPairs(spark, sf()))
      spark.conf.unset("spark.graft.dedup.minRecallBp")
      Derivations.clear()
      val bare = planOf(Dedup.dupPairs(spark, sf()))
      def broadcasts(p: String): Int =
        "BroadcastExchange".r.findAllIn(p).length
      // the guard may not introduce broadcast exchanges beyond whatever
      // the bare pair pipeline already carries
      assert(broadcasts(guarded) <= broadcasts(bare),
        s"guard introduced broadcasts: ${broadcasts(guarded)} > ${broadcasts(bare)}")
    } finally
      if (spark.conf.getOption("spark.graft.dedup.minRecallBp").isDefined)
        spark.conf.unset("spark.graft.dedup.minRecallBp")
  }

  test("guarded embed pair plan under bucketed: Union present, no cartesian") {
    spark.conf.set("spark.graft.embed.pairs", "bucketed")
    spark.conf.set("spark.graft.embed.minRecallBp", "1")
    try {
      val plan = planOf(Similarity.embedPairs(spark, sf()))
      assert(plan.contains("Union"), "guard branch missing from the plan")
      assert(!plan.contains("CartesianProduct"),
        s"cartesian in the guarded plan:\n${plan.take(2000)}")
    } finally {
      spark.conf.unset("spark.graft.embed.pairs")
      spark.conf.unset("spark.graft.embed.minRecallBp")
    }
  }
}
