package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The integer k-means steps of the embedding family (s4, s7, d11, d15,
  * s13–s20 and the c13/c16 legs), each built here once: [[grid]],
  * [[subvectors]], [[seeds]], [[assign]], [[probe]], [[update]] and
  * [[warmUpdate]].
  *
  * Exact integer arithmetic: vectors are floor-quantized onto the
  * `floor(x · QuantScale)` grid (floor, never round — round's .5 tie
  * rule differs across engines), held as `array<double>` of small
  * integers, and every distance is the FAISS IVF metric
  * `v·v − 2v·c + c·c`.  Every value stays below 2⁵³, so sums are exact
  * and order-free: each step replays bit-for-bit in DuckDB, and no
  * result depends on partitioning.
  *
  * Why each step has its shape:
  *  - assignment is the map-side `graft_nearest` projection over ONE
  *    broadcast packed centroid row (`ids` ascending, `flat` = the
  *    centroid vectors concatenated in id order, `ccs` parallel; one row
  *    per `m` for PQ codebooks, joined on `m`).  It returns the
  *    `struct(id, d)` minimal under (d, id) — the old
  *    `crossJoin → groupBy(point) min_by(…, struct(dist, id))` form's
  *    values and tie-break exactly, without the exchange that
  *    re-shuffled the whole corpus to finish an argmin already complete
  *    map-side (r17; NearestCentroid's scaladoc proves the equivalence);
  *  - the multi-probe cut is `graft_probe_cells` under the same packed
  *    row: `array<struct<id, d>>` ascending under (d, id), identical to
  *    both declarative forms (`slice(array_sort(collect_list(…)), 1, p)`
  *    and `row_number() OVER (ORDER BY dist, id) <= p`) minus their
  *    exchange, sort and second raw broadcast (r18; ProbeCells);
  *  - the update is ONE exchange: `graft_vec_sum` plus a count per key,
  *    then the floored mean as one `transform` over the ≤ k result rows,
  *    so centroids stay on the grid.  The posexplode → groupBy(key, pos)
  *    → collect_list form paid two exchanges and a dim× row blow-up, and
  *    `dim` separate `sum(vec[i])` aggregates inflated Catalyst time
  *    across the composition queries' shared subtrees (VecSumAgg).
  *
  * Null policy: [[grid]] (and s16's normalized grid) pass every vector
  * through [[guarded]], which fails the action NAMING the `vec_id` of a
  * vector that is null, holds a null element or is not [[EmbDim]] long.
  * The kernels return null for such a vector, and a `best IS NOT NULL`
  * filter would otherwise drop it silently; with the guard upstream,
  * [[update]]'s means can never see one.
  *
  * The object holds definitions only: `SparkEntry.queries` initializes
  * every pack, so nothing here may run work at initialization. */
private[graft] object Quantizer {

  /** Embedding dimensionality — a CONTRACT constant, not a measurement:
    * every oracle CTE walks `range(1, 65)` and PqM·PqD = 64. */
  val EmbDim = 64

  /** The column names of one quantized space: the centroid label `id`,
    * the point vector `vec` and its squared norm `sq`, and the `by` keys
    * that split the space into independent codebooks. */
  final case class Space(id: String, vec: String, sq: String, by: Seq[String] = Nil)

  /** IVF cells over [[grid]] vectors. */
  val Cells = Space("list_id", "qv", "vv")
  /** PQ codebooks over [[subvectors]], one per subspace `m`. */
  val Codebooks = Space("code", "sv", "svv", Seq("m"))
  /** s16's cells over its normalized grid. */
  val RadiusCells = Space("list_id", "qn", "vv")

  /** The one null policy: keeps a `(vec_id, emb, …)` relation as it is
    * and fails the action, naming the vector, when `emb` is null, holds
    * a null element (graft_dot is then null) or is not [[EmbDim]] long.
    * The `filter(assert_true(…).isNull)` form is the d3 hot-bucket
    * guard's: assert_true is non-foldable, so no pruning removes it. */
  def guarded(points: DataFrame): DataFrame =
    points.filter(assert_true(
      size(col("emb")) === EmbDim &&
        Similarity.dot(col("emb"), col("emb")).isNotNull,
      concat(lit("graft: dirty embedding at vec_id "), col("vec_id"),
        lit(s": the vector is null, holds a null element or is not $EmbDim " +
          "long, and the quantizer would drop it silently; clean or " +
          "exclude it upstream"))).isNull)

  /** `(vec_id, emb, …)` → `(…, qv, vv)`: the guarded corpus on the
    * `floor(x · QuantScale)` integer grid with its squared norms. */
  def grid(points: DataFrame): DataFrame =
    guarded(points)
      .withColumn("qv", transform(col("emb"),
        x => floor(x * Similarity.QuantScale)).cast("array<double>"))
      .withColumn("vv", Similarity.dot(col("qv"), col("qv")))

  /** [[grid]] vectors exploded into their PqM subvectors:
    * `(vec_id, carry…, m, sv, svv)`. */
  def subvectors(points: DataFrame, carry: String*): DataFrame =
    points
      .withColumn("m", explode(array((0 until Similarity.PqM).map(lit): _*)))
      .withColumn("sv", slice(col("qv"), col("m") * Similarity.PqD + 1,
        lit(Similarity.PqD)))
      .withColumn("svv", Similarity.dot(col("sv"), col("sv")))
      .select((("vec_id" +: carry) ++ Seq("m", "sv", "svv")).map(col): _*)

  /** Seed centroids `(by…, id, cent, cc)`: the points `pick` keeps, each
    * labelled by `label` (default: its own vec_id). */
  def seeds(points: DataFrame, sp: Space, pick: Column,
      label: Column = col("vec_id")): DataFrame =
    points.filter(pick).select(sp.by.map(col) ++ Seq(
      label.cast("int").as(sp.id), col(sp.vec).as("cent"),
      col(sp.sq).as("cc")): _*)

  /** Stride seeds: the `cells` points with `vec_id % stride == 0`,
    * labelled `vec_id / stride` (stride 1 = the first `cells` ids). */
  def strideSeeds(points: DataFrame, sp: Space, cells: Int,
      stride: Long): DataFrame =
    seeds(points, sp,
      col("vec_id") % stride === 0 && col("vec_id") < cells * stride,
      col("vec_id") / stride)

  /** A centroid relation `(by…, id, cent, cc)` packed into one row per
    * `by` key: `(by…, ids, flat, ccs, carry…)`; `carry` columns are
    * constant across `cents` (the serving verdict) and ride along. */
  private def packed(cents: DataFrame, sp: Space, carry: Seq[String]): DataFrame =
    cents.groupBy(sp.by.map(col): _*)
      .agg(array_sort(collect_list(struct(
          col(sp.id).cast("int").as("i"), col("cent").as("cent"),
          col("cc").as("cc")))).as("cs"),
        carry.map(c => first(col(c)).as(c)): _*)
      .select(sp.by.map(col) ++ Seq(
        transform(col("cs"), c => c.getField("i")).as("ids"),
        flatten(transform(col("cs"), c => c.getField("cent"))).as("flat"),
        transform(col("cs"), c => c.getField("cc")).as("ccs")) ++
        carry.map(col): _*)

  /** Nearest-centroid assignment of `points` against `cents`, projected
    * to the `out` columns, where `sp.id` and `dist` name the winning
    * centroid and its distance and every other name is a point column.
    * The null filter only matters for an empty centroid set (the packed
    * row's empty arrays make the kernel return null, so an empty corpus
    * still yields zero rows — EmptyCorpusSpec); [[guarded]] has already
    * rejected every vector that could make it null. */
  def assign(points: DataFrame, cents: DataFrame, sp: Space,
      out: String*): DataFrame = {
    val book = broadcast(packed(cents, sp, Nil))
    (if (sp.by.isEmpty) points.crossJoin(book) else points.join(book, sp.by))
      .withColumn("best", call_function("graft_nearest", col(sp.vec),
        col("ids"), col("flat"), col("ccs")))
      .filter(col("best").isNotNull)
      .select(out.map {
        case sp.id => col("best.id").as(sp.id)
        case "dist" => col("best.d").as("dist")
        case c => col(c)
      }: _*)
  }

  /** The `p` nearest [[Cells]] of each point's `vec` as a `top` column
    * (`array<struct<id, d>>`, ascending under (d, id)), with the
    * constant `carry` column of `cents` alongside.  As in [[assign]],
    * the null filter only drops rows when `cents` is empty. */
  def probe(points: DataFrame, vec: String, cents: DataFrame, p: Int,
      carry: Option[String] = None): DataFrame =
    points.crossJoin(broadcast(packed(cents, Cells, carry.toSeq)))
      .withColumn("top", call_function("graft_probe_cells", col(vec),
        col("ids"), col("flat"), col("ccs"), lit(p)))
      .filter(col("top").isNotNull)

  /** One floored-integer-mean k-means update `(by…, id, cent, cc)` from
    * an assignment carrying `(by…, id, vec)`. */
  def update(assigned: DataFrame, sp: Space): DataFrame = {
    val keys = (sp.by :+ sp.id).map(col)
    assigned.groupBy(keys: _*)
      .agg(call_function("graft_vec_sum", col(sp.vec)).as("_sv"),
        count(lit(1)).as("_n"))
      .select(keys :+ transform(col("_sv"),
        x => floor(x / col("_n")).cast("double")).as("cent"): _*)
      .withColumn("cc", Similarity.dot(col("cent"), col("cent")))
  }

  /** Warm-start refresh of a `stored` centroid relation: one [[update]]
    * from `assigned`, a centroid that received no point keeping its
    * stored value (the empty-cell rule).  Returns
    * `(by…, id, cent, cc, cent_old, cc_old)`. */
  def warmUpdate(stored: DataFrame, assigned: DataFrame, sp: Space): DataFrame = {
    val keys = sp.by :+ sp.id
    stored
      .select(keys.map(col) ++ Seq(
        col("cent").as("cent_old"), col("cc").as("cc_old")): _*)
      .join(broadcast(update(assigned, sp).select(keys.map(col) ++ Seq(
        col("cent").as("cent_new"), col("cc").as("cc_new")): _*)),
        keys, "left")
      .select(keys.map(col) ++ Seq(
        coalesce(col("cent_new"), col("cent_old")).as("cent"),
        coalesce(col("cc_new"), col("cc_old")).as("cc"),
        col("cent_old"), col("cc_old")): _*)
  }
}
