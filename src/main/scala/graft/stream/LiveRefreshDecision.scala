package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.RefreshDecision

/** Live refresh decision — batch `c13_refresh_decision`'s streaming
  * composition, and the deployment shape the triad's live twins exist
  * for: T16 ([[LiveIndexStaleness]]), T17 ([[LivePqStaleness]]) and T20
  * ([[LiveSelectorStaleness]]) each maintain bounded keyed state per
  * stored model; this module folds their report relations into the SAME
  * decision rule the batch operator applies — staleness expressions and
  * the verdict predicate come from [[RefreshDecision]], not restated, so
  * live ≡ batch holds by construction (and RefreshDecisionParitySpec
  * measures it anyway).
  *
  * The BENEFIT side is deliberately a stored input: "what would ONE
  * warm-start retrain buy" requires the retrain itself (a batch pass —
  * s15's recipe), so a deployment prices it at each refresh and serves
  * the stored bp figures to the live rule until the next one — exactly
  * how the stored index / codebooks / weights themselves flow to the
  * live monitors (the s13IndexArray pattern).  The live signal is the
  * staleness side: the decision flips to `refresh` the moment the
  * streaming drift crosses the threshold, priced against the last known
  * benefit. */
object LiveRefreshDecision {

  /** Stored per-family retrain benefits (bp), from the last batch
    * pricing — `ivf`/`pq`/`selector`. */
  final case class StoredBenefits(ivfBp: Long, pqBp: Long, selectorBp: Long)

  /** The decision relation over the three monitors' report inputs.
    *
    * @param ivfPer per-cell relation with (n_arch, n_inc, d_arch, d_inc)
    *               — [[LiveIndexStaleness.reportOf]]'s shape
    * @param pqPer  per-subspace relation with (n_arch, n_inc, err_arch,
    *               err_inc) — [[LivePqStaleness.reportOf]]'s shape
    * @param selPer per-bucket relation with (ct_arch, cr_arch, n_inc) —
    *               the archive stats full-outer-joined with T20's latest
    *               counters (see [[LiveSelectorStaleness.reportOf]])
    */
  def decisionOf(ivfPer: DataFrame, pqPer: DataFrame, selPer: DataFrame,
      benefits: StoredBenefits,
      minStalenessBp: Long = RefreshDecision.DefaultMinStalenessBp,
      minBenefitBp: Long = RefreshDecision.DefaultMinBenefitBp): DataFrame = {
    val ivf = RefreshDecision
      .crossStalenessBp(ivfPer, "n_arch", "n_inc", "d_arch", "d_inc")
      .select(lit("ivf").as("family"), col("staleness_bp"),
        lit(benefits.ivfBp).as("benefit_bp"))
    val pq = RefreshDecision
      .crossStalenessBp(pqPer, "n_arch", "n_inc", "err_arch", "err_inc")
      .select(lit("pq").as("family"), col("staleness_bp"),
        lit(benefits.pqBp).as("benefit_bp"))
    // ct_inc = 0: the live raw-slice monitor carries no incoming TARGET
    // counts, and the shared leg only reads ct_inc for the benefit
    // column, which the stored figure replaces (see the module doc)
    val sel = RefreshDecision
      .selectorLegOf(selPer.withColumn("ct_inc", lit(0L)),
        graft.queries.Curation.DsirBuckets)
      .select(lit("selector").as("family"), col("staleness_bp"),
        lit(benefits.selectorBp).as("benefit_bp"))
    RefreshDecision.decide(ivf.unionByName(pq).unionByName(sel),
      minStalenessBp, minBenefitBp)
  }
}
