package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The REFRESH-DECISION arithmetic shared by the batch operator
  * (`c13_refresh_decision`) and the live composition
  * ([[graft.stream.LiveRefreshDecision]]) — the s13/s14/c12 staleness
  * audits answer "how stale is the stored model", s15 answers "what
  * would retraining buy"; these expressions turn those audits into the
  * operator a 100 TB pipeline actually schedules: "should we refresh
  * NOW, per model family".  Stated ONCE here so live ≡ batch holds by
  * construction (the selectorStalenessFromCounts / overlapFromSketches
  * discipline).
  *
  * Every metric is exact int64 basis points (the t18/c11 integer-rank
  * technique — no float crosses an engine boundary), so the whole
  * decision replays bit-for-bit in DuckDB.
  *
  * Magnitude regime: the cross-multiplied staleness numerators reach
  * 10⁴·Σdist·n ≈ 7·10¹⁸ at sf0.1 — inside int64 with ~25% headroom —
  * and the selector leg's w_old/w_new products grow as per-bucket-count
  * × total-count × 10⁴, which would overflow int64 EARLIER (roughly
  * beyond ~10⁹ total tokens with a hot bucket; under ANSI
  * correct-by-crash).  So every overflow-capable product (staleness
  * cross-products, the selector shift mass and weight numerators and
  * denominators, the benefit numerators) is promoted to decimal(38,0)
  * through [[big]].  The integral `div` still returns bigint, so output
  * schemas and values are what int64 gives wherever int64 does not
  * overflow (Decimal128ParitySpec pins the promoted answers against
  * BigInt recounts, on real-scale and planted overflow-scale fixtures).
  * The promotion is free: every promoted expression lives on a bounded
  * audit relation (≤ B buckets / ≤ k cells / ≤ PqM·PqK codes / 1-row
  * totals); the corpus-sized arithmetic upstream (token bucketing,
  * distance masses) stays int64.  An int64 pin lost every A/B against
  * the promotion (0.91×, 0.96×, 19.45 s vs 20.77 s, 17.34 s vs 17.40 s)
  * and was deleted ([[rejectInt64Pin]]).  DuckDB replays the promoted
  * arithmetic as HUGEINT (int128 — the a12/a13 convention). */
object RefreshDecision {

  /** The int64 pin is retired: `false` fails loudly at each site that
    * used to pick the regime; the former default spellings pass. */
  private[queries] def rejectInt64Pin(s: SparkSession): Unit =
    graft.RetiredConf.reject(s, "spark.graft.decimal128", "true", "auto")

  /** Wrap a SQL term in the decimal(38,0) promotion — ONE promoted
    * factor per product is enough: decimal is sticky through `*`/`-`,
    * and integral `div` over decimals returns bigint. */
  private def big(e: String): String = s"cast(($e) as decimal(38,0))"

  /** `10⁴·(before − after) div before` in bp — the priced-retrain
    * benefit expression the ivf/pq legs share. */
  def benefitBp(before: String, after: String): Column =
    expr(s"(10000 * (${big(before)} - ($after))) div nullif($before, 0)")

  /** Default decision thresholds, baked into the DuckDB oracle; a
    * deployment overrides via `spark.graft.refresh.minStalenessBp` /
    * `spark.graft.refresh.minBenefitBp` (conf-reading queries diverge
    * from the static oracle — the driver never sets these, the
    * RefreshDecisionSpec exercises the overrides). */
  val DefaultMinStalenessBp = 250L
  val DefaultMinBenefitBp = 100L

  def thresholds(s: SparkSession): (Long, Long) = (
    s.conf.getOption("spark.graft.refresh.minStalenessBp").map(_.toLong)
      .getOrElse(DefaultMinStalenessBp),
    s.conf.getOption("spark.graft.refresh.minBenefitBp").map(_.toLong)
      .getOrElse(DefaultMinBenefitBp))

  /** Cross-multiplied staleness of an incoming slice vs the archive a
    * stored model trained on, over a per-group relation carrying
    * archive/incoming counts (`nA`/`nI`) and masses (`mA`/`mI` — IVF
    * distance mass, PQ quantization-error mass):
    *
    *   staleness_bp = 10⁴ · (Σmᵢ·Σnₐ) div (Σmₐ·Σnᵢ) − 10⁴
    *
    * = the relative excess of the incoming slice's mean mass over the
    * archive's, in basis points (positive = today's data fits the
    * stored model worse; 0 = no drift; exactly s13/s14's shift
    * statistic collapsed to one scheduling-grade number).  The batch
    * legs pass the audit's per-cell/per-subspace relation; the live
    * composition passes the monitor's reportOf output — same columns,
    * same expression. */
  def crossStalenessBp(per: DataFrame,
      nA: String, nI: String, mA: String, mI: String): DataFrame =
    // nullif: the live composition's cold start (monitors booted, no
    // incoming data yet) coalesces the incoming side to TRUE ZEROS (not
    // the nulls an empty batch aggregate yields), and an un-guarded
    // integer div by zero raises under ANSI — no-evidence must read as
    // null staleness (→ 'keep'), never crash the decision query
    per.agg(sum(col(nA)).as("na"), sum(col(nI)).as("ni"),
        sum(col(mA)).as("ma"), sum(col(mI)).as("mi"))
      .select(expr(s"(10000 * ${big("mi")} * na) " +
          s"div nullif(${big("ma")} * ni, 0) - 10000")
        .as("staleness_bp"))

  /** Selector staleness AND refresh benefit in one pass over c12's
    * per-bucket drift counts `(b, ct_arch, cr_arch, ct_inc, n_inc)`:
    *
    *   staleness_bp = 10⁴ · Σ|n_inc·NRₐ − cr_arch·TIᵣ| div (2·NRₐ·TIᵣ)
    *     — the exact total-variation distance between the archive and
    *     incoming raw-pool bucket distributions (the cross-multiplied
    *     |shift_x| mass of c12, normalized; ≤ 10⁴ by construction).
    *   benefit_bp = Σ|w_new − w_old| div #buckets
    *     — the mean absolute move of the stored c11 weight (already in
    *     bp) if the selector retrained on archive+incoming, i.e. how
    *     much the selection scores would actually change.
    *
    * The live composition has no incoming TARGET counts (T20 streams
    * the raw slice), so it passes `ct_inc = 0` and reads ONLY
    * staleness_bp, taking benefit from the last batch refresh pricing —
    * the staleness expression stays shared either way.  Totals ride a
    * window over the ≤ B-row counts relation (the c4 single-partition-
    * over-bounded-rows idiom), so the corpus-sized token pass below it
    * runs ONCE. */
  /** The PER-BUCKET selector arithmetic — cross-multiplied shift mass
    * plus the stored (`w_old`) and hypothetically-retrained (`w_new`)
    * c11 weight per bucket, totals riding a window over the ≤ B-row
    * counts relation.  Extracted so [[selectorLegOf]]'s aggregate and
    * c16's serving-weight export read the SAME expressions. */
  def selectorWeights(per: DataFrame, buckets: Long): DataFrame = {
    val w = Window.partitionBy()
    // every count × total product is promoted: these are the expressions
    // whose int64 ceiling would arrive FIRST (the header's w_old/w_new
    // regime — per-bucket-count × total-count × 10⁴)
    per
      .withColumn("nt_a", sum(col("ct_arch")).over(w))
      .withColumn("nr_a", sum(col("cr_arch")).over(w))
      .withColumn("ti_t", sum(col("ct_inc")).over(w))
      .withColumn("ti_r", sum(col("n_inc")).over(w))
      .withColumn("sh", expr(
        s"abs(${big("n_inc")} * nr_a - ${big("cr_arch")} * ti_r)"))
      .withColumn("w_old", expr(
        s"(${big("ct_arch + 1")} * (nr_a + $buckets) * 10000) " +
          s"div (${big("cr_arch + 1")} * (nt_a + $buckets))"))
      .withColumn("w_new", expr(
        s"(${big("ct_arch + ct_inc + 1")} * (nr_a + ti_r + $buckets) * 10000) " +
          s"div (${big("cr_arch + n_inc + 1")} * (nt_a + ti_t + $buckets))"))
  }

  def selectorLegOf(per: DataFrame, buckets: Long): DataFrame =
    selectorWeights(per, buckets)
      .agg(
        // nullif: the crossStalenessBp cold-start rationale — a live
        // stream with zero incoming tokens must read null, not crash
        expr(s"(10000 * ${big("sum(sh)")}) " +
            s"div nullif(2 * ${big("max(nr_a)")} * max(ti_r), 0)")
          .as("staleness_bp"),
        // w_old/w_new are bigint (div's output type), so the benefit
        // mean needs no promotion
        expr("sum(abs(w_new - w_old)) div nullif(count(*), 0)").as("benefit_bp"))

  /** The DuckDB totals CTEs of an ivf/pq decision leg — archive/incoming
    * counts and masses from the stale full-corpus assignment `massRel`
    * plus the refreshed mass from `afterRel` — stated ONCE for every
    * oracle that derives a verdict (c16's execution, the s18/s19/s20
    * serving paths) instead of restating the split per site. */
  def totAftCtes(massRel: String, afterRel: String): String = s"""tot AS (
        SELECT
          CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(sum(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS ni,
          CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN dist ELSE 0 END) AS BIGINT) AS ma,
          CAST(sum(CASE WHEN vec_id % 10 = 7 THEN dist ELSE 0 END) AS BIGINT) AS mi
        FROM $massRel),
      aft AS (SELECT CAST(sum(dist) AS BIGINT) AS ea FROM $afterRel)"""

  /** The DuckDB verdict CASE over [[totAftCtes]]'s `tot`/`aft` — the
    * ivf/pq decision rule at the DEFAULT thresholds (the oracle
    * convention: conf-overridden thresholds diverge from the static
    * oracle by design), stated ONCE. */
  def vdecCte: String = s"""vdec AS (
        SELECT CASE WHEN
            (10000 * mi * na) // nullif(ma * ni, 0) - 10000
              >= $DefaultMinStalenessBp
            AND (10000 * (ma + mi - ea)) // nullif(ma + mi, 0)
              >= $DefaultMinBenefitBp
          THEN 'refresh' ELSE 'keep' END AS verdict
        FROM tot, aft)"""

  /** THE decision rule over a `(family, staleness_bp, benefit_bp)`
    * legs relation: refresh iff the model is stale enough AND the
    * retrain buys enough — a stale model a refresh can't improve
    * (drifted data the model family can't fit better) keeps serving,
    * and a cheap-win refresh on a fresh model isn't scheduled either.
    * Self-describing output: the thresholds ride along. */
  def decide(legs: DataFrame, minStalenessBp: Long, minBenefitBp: Long): DataFrame =
    legs.select(col("family"),
        col("staleness_bp").cast("long").as("staleness_bp"),
        col("benefit_bp").cast("long").as("benefit_bp"),
        lit(minStalenessBp).as("min_staleness_bp"),
        lit(minBenefitBp).as("min_benefit_bp"),
        verdictCol(col("staleness_bp"), col("benefit_bp"),
          minStalenessBp, minBenefitBp).as("verdict"))
      .orderBy(col("family"))

  def verdictCol(stalenessBp: Column, benefitBp: Column,
      minStalenessBp: Long, minBenefitBp: Long): Column =
    when(stalenessBp >= minStalenessBp && benefitBp >= minBenefitBp,
      lit("refresh")).otherwise(lit("keep"))
}
