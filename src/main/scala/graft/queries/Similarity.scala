package graft.queries

import graft.NamedQuery
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity pack over `embeddings` (64-dim float vectors).
  *
  * s1 is the brute-force cosine top-k baseline: the (small) query set is
  * broadcast against the corpus, so the corpus is scanned once with no
  * shuffle — the correct plan at any scale when |queries| ≪ |corpus|.
  * s2 is the scale path: deterministic random-hyperplane LSH buckets the
  * corpus (8-bit signatures) so each query only scans its bucket.
  * s3 exercises posexplode/per-dimension aggregation (label centroids).
  *
  * Dot products use the native codegen'd `graft_dot` expression
  * ([[graft.functions.ArrayDotProduct]]) over array<double> — a static
  * call into a primitive loop, no UDF boundary.
  */
object Similarity {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** The `embeddings` table's file stamp: every derivation of the family
    * keys on it, so a table rewritten in place is a miss, not the old
    * quantized corpus, models or certificates. */
  private def embStamp(s: SparkSession, dir: String): Seq[(String, Long, Long)] =
    Tables.fileStamp(s, dir, "embeddings")

  /** Σ aᵢ·bᵢ via the native codegen'd [[graft.functions.ArrayDotProduct]]
    * expression (one static call into a primitive loop — the Catalyst
    * `aggregate`+`zip_with` fold allocates a lambda frame per element and
    * is ~20× slower at |queries|·|corpus| scale).  Same sequential
    * left-fold arithmetic as the HOF form and DuckDB's
    * `list_dot_product`, so oracle hashes are unaffected.  Callers must
    * `GraftFunctions.register(s)` (every query fn below does). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The d15 certificate re-measured for the GUARD path
    * ([[embedPairs]] under `spark.graft.embed.minRecallBp`): recall of
    * the bucketed pair source against the exact ≥ 0.4 kernel, over the
    * deterministic `vec_id % sampleMod = 0` slice of the corpus
    * (sampleMod 1 = the full d15 measurement; at 100 TB the exact side
    * is quadratic, so a deployment samples — cost shrinks ~mod²).
    * Both relations persist via [[Derivations.persist]] and the 1-row
    * result persists too, so the certificate computes once per session
    * per (dir, sampleMod). */
  private def embedRecallCert(s: SparkSession, dir: String, sampleMod: Long): DataFrame =
    Derivations.memo(s, dir, "embedRecallCert", embStamp(s, dir), sampleMod) {
      graft.sentiment.GraftFunctions.register(s)
      import s.implicits._
      val e = Tables.embeddings(s, dir)
        .filter(col("vec_id") % sampleMod === 0)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
        .withColumn("nrm", norm(col("emb")))
        .as[(Long, Array[Double], Double)]
      val exact = embeddingPairsOf(s, e).select(col("vec_a"), col("vec_b"))
      // seedStride = sampleMod: the sampled slice holds only vec_id %
      // sampleMod == 0, so the default stride-1 seed predicate
      // (vec_id < cells) would keep just ceil(cells/mod) seeds — at
      // mod ≥ cells ONE cell, where every pair co-locates and the
      // certificate reads an unconditional 10000 bp exactly in the
      // at-scale sampling mode it exists for (round-11 ADVICE).  With
      // the stride matched, the slice seeds all `cells` centroids and
      // the sampled certificate measures production geometry over
      // thinned data — the documented statistical trade, not a
      // structural one (SampledCert spec pins both properties).
      val bucketed = bucketedEmbeddingPairsOf(s, e, seedStride = sampleMod)
        .select(col("vec_a"), col("vec_b"), lit(1L).as("hit"))
      // ONE outer-join-marker pass + ONE global aggregate — no cross
      // join, no broadcast hint, so the cert subplan is safe wherever
      // the guard union lands (including below the dedup tier's lineage
      // cuts).  An empty exact relation certifies vacuously (count 0 →
      // null ratio → coalesce to 10000: nothing to lose).
      Derivations.persist(
        exact.join(bucketed, Seq("vec_a", "vec_b"), "left")
          .agg(coalesce(
            expr("(sum(coalesce(hit, 0)) * 10000) div nullif(count(1), 0)"),
            lit(10000L)).as("recall_bp")))
    }

  /** The recall-floor guard (round-10 verdict #4): wires the d15/d13
    * certificate into the engine's own guardrail, so a deployment cannot
    * flip a dup-graph tier to its bucketed/banded pair source on a corpus
    * where the measured certificate says the flip silently loses pairs —
    * the hot-bucket cap's loud-over-silent discipline applied to the
    * FLIP POLICY itself ("the audit decides, not the architecture",
    * now enforced, not commented).
    *
    * Wiring is a UNION with a conditionally-failing 1-row branch, not a
    * broadcast join: `cert.filter(recall_bp < floor)` is EMPTY when the
    * certificate passes (the union adds nothing) and carries one
    * `assert_true(false, <named numbers>)` row when it fails, killing
    * the first action loudly.  A union is exchange-free and
    * broadcast-free, so — unlike the CC guard's broadcast-1-row join —
    * it is safe BELOW the dedup tier's lineage cuts (a broadcast inside
    * a cut subplan submits its relation future during RDD construction;
    * see the hot-bucket guard's rationale, Dedup.scala).  The passing
    * branch's only cost is the certificate measurement itself, memoized
    * and persisted per session: the guard prices the audit into the
    * flip, which is exactly the policy. */
  private[queries] def recallFloorGuard(
      pairs: DataFrame, cert: DataFrame, floorBp: Long, conf: String,
      detail: String): DataFrame = {
    val failRow = cert.filter(col("recall_bp") < floorBp)
      .select(
        assert_true(lit(false),
          concat(lit("graft: recall-floor guard: measured certificate recall "),
            col("recall_bp"),
            lit(s" bp < $conf=$floorBp — $detail"))).cast("long").as("a"),
        lit(0L).as("b"))
    val cols = pairs.columns
    pairs.union(failRow.toDF(cols: _*))
  }

  /** The radius-mass guard — [[recallFloorGuard]]'s wiring (union with a
    * conditionally-failing 1-row branch; exchange-free, cut-safe) with
    * the INVERTED predicate: the s16 certificate reports the
    * multi-assignment mass provable completeness forces, and the flip
    * fails when that mass EXCEEDS the cap (completeness without
    * selectivity is just all-pairs with extra steps). */
  private[queries] def massCapGuard(
      pairs: DataFrame, cert: DataFrame, capBp: Long, conf: String,
      detail: String): DataFrame = {
    val failRow = cert.filter(col("cell_mass_bp") > capBp)
      .select(
        assert_true(lit(false),
          concat(lit("graft: radius-mass guard: measured cell_mass_bp "),
            col("cell_mass_bp"),
            lit(s" > $conf=$capBp — $detail"))).cast("long").as("a"),
        lit(0L).as("b"))
    val cols = pairs.columns
    pairs.union(failRow.toDF(cols: _*))
  }

  // ---------------------------------------------------------------- s1
  val s1AnnBruteForce = NamedQuery(
    "s1_ann_bruteforce",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
        .withColumn("nrm", norm(col("emb")))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("nrm").as("qn"))
      val sims = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("cosine", round(dot(col("qe"), col("emb")) / (col("qn") * col("nrm")), 4))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("rn"), col("vec_id").as("nn_id"), col("cosine"))
        .orderBy(col("q_id"), col("rn"))
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        q AS (SELECT vec_id AS q_id, emb AS qe FROM e WHERE vec_id < 5),
        sims AS (
          SELECT q_id, e.vec_id AS nn_id,
                 round(list_cosine_similarity(qe, e.emb), 4) AS cosine
          FROM q, e WHERE e.vec_id <> q_id)
      SELECT q_id, CAST(rn AS INTEGER) AS rn, nn_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, nn_id) AS rn
        FROM sims) t
      WHERE rn <= 10 ORDER BY q_id, rn"""),
    doc = "brute-force cosine top-10 (broadcast queries, one corpus scan)")

  // ---------------------------------------------------------------- s2
  /** Deterministic hyperplane components: pseudo-random in [−1, 1] from a
    * splitmix64 of (plane, dim) — reproducible across runs and engines. */
  private def planeComponent(plane: Int, d: Int): Double = {
    var h = (plane.toLong << 32 | d.toLong) * 0x9E3779B97F4A7C15L
    h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
    h ^= h >>> 27; h *= 0x94D049BB133111EBL
    h ^= h >>> 31
    (h.toDouble / Long.MaxValue.toDouble)
  }

  private val NumPlanes = 8
  private val Dim = 64

  /** 8-bit LSH bucket signature of an array<double> embedding column. */
  def lshBucket(emb: Column): Column = {
    (0 until NumPlanes).map { p =>
      val plane = array((0 until Dim).map(d => lit(planeComponent(p, d))): _*)
      when(dot(emb, plane) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** The same 8 hyperplanes as DuckDB SQL literals — `Double.toString` is
    * shortest-round-trip, so the parsed constants are bit-identical to the
    * ones Spark folds over, and `list_dot_product` is a sequential left
    * fold like [[dot]]; the sign test (and hence the bucket) agrees. */
  private def planeSqlLiteral(p: Int): String =
    (0 until Dim).map(d => planeComponent(p, d).toString)
      .mkString("CAST([", ", ", "] AS DOUBLE[])")

  private val bucketSql: String =
    (0 until NumPlanes).map { p =>
      s"(CASE WHEN list_dot_product(emb, ${planeSqlLiteral(p)}) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  val s2AnnLsh = NamedQuery(
    "s2_ann_lsh",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
        .withColumn("nrm", norm(col("emb")))
        .withColumn("bucket", lshBucket(col("emb")))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("nrm").as("qn"), col("bucket"))
      // candidate set = same LSH bucket only (corpus scanned once; at scale
      // the bucket column is a partition/cluster key)
      val sims = e.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine", round(dot(col("qe"), col("emb")) / (col("qn") * col("nrm")), 4))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("nn_id"), col("cosine"))
        .orderBy(col("q_id"), col("rn"))
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        b AS (SELECT vec_id, emb, ($bucketSql) AS bucket FROM e),
        q AS (SELECT vec_id AS q_id, emb AS qe, bucket AS qb FROM b WHERE vec_id < 5),
        sims AS (SELECT q_id, b.vec_id AS nn_id,
                   round(list_cosine_similarity(qe, b.emb), 4) AS cosine
                 FROM q JOIN b ON b.bucket = q.qb AND b.vec_id <> q.q_id)
      SELECT q_id, CAST(rn AS INTEGER) AS rn, nn_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, nn_id) AS rn
        FROM sims) t
      WHERE rn <= 5 ORDER BY q_id, rn"""),
    doc = "hyperplane-LSH bucketed ANN (8-bit signatures), top-5 within bucket; " +
      "oracle replays the deterministic planes as SQL literals")

  // ---------------------------------------------------------------- s5
  /** Multi-probe LSH: each query scans its own bucket PLUS the 8 buckets at
    * Hamming distance 1 from its signature (flip one hyperplane bit) — the
    * standard recall fix for single-probe LSH (Lv et al., VLDB 2007,
    * public literature) at 9× the probed volume, still ~9/256 of the
    * corpus.  Deterministic probe set → fully oracle-checkable, unlike
    * most ANN variants.  At scale: same bucket-as-partition-key layout as
    * s2; a query fans out to 9 bucket lookups instead of 1. */
  val s5AnnMultiProbe = NamedQuery(
    "s5_ann_multiprobe",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
        .withColumn("nrm", norm(col("emb")))
        .withColumn("bucket", lshBucket(col("emb")))
      val masks = array((0 +: (0 until NumPlanes).map(1 << _)).map(lit): _*)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("nrm").as("qn"), col("bucket").as("qb"))
        .withColumn("mask", explode(masks))
        .withColumn("bucket", col("qb").bitwiseXOR(col("mask")))
        .drop("qb", "mask")
      // distinct masks → distinct probed buckets per query: no dup pairs
      val sims = e.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine", round(dot(col("qe"), col("emb")) / (col("qn") * col("nrm")), 4))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("nn_id"), col("cosine"))
        .orderBy(col("q_id"), col("rn"))
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        b AS (SELECT vec_id, emb, ($bucketSql) AS bucket FROM e),
        q AS (SELECT vec_id AS q_id, emb AS qe, bucket AS qb FROM b WHERE vec_id < 5),
        probes AS (SELECT q_id, qe, xor(qb, m) AS bucket
                   FROM q, (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) t),
        sims AS (SELECT q_id, b.vec_id AS nn_id,
                   round(list_cosine_similarity(qe, b.emb), 4) AS cosine
                 FROM probes JOIN b USING (bucket) WHERE b.vec_id <> q_id)
      SELECT q_id, CAST(rn AS INTEGER) AS rn, nn_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, nn_id) AS rn
        FROM sims) t
      WHERE rn <= 5 ORDER BY q_id, rn"""),
    doc = "multi-probe LSH ANN (own + 8 Hamming-1 buckets), top-5; oracle-checked")

  // ---------------------------------------------------------------- s4
  /** IVF-style ANN with a real coarse quantizer: one deterministic k-means
    * iteration (seeds = the first `IvfLists` vectors) builds inverted lists;
    * a query ranks centroids, probes the nearest `IvfProbe` lists, and scans
    * only those — at scale the list id is a partition key and each query
    * touches ~nprobe/k of the corpus.
    *
    * The quantizer runs in EXACT INTEGER arithmetic (the a6/d3/d4/m2
    * promotion technique): embeddings are floor-quantized to an integer
    * grid, assignment minimizes the integer L2 distance `v·v − 2v·c + c·c`
    * (the standard FAISS IVF metric — no norms, no division), and the
    * k-means update is the per-dimension floored integer mean, so
    * centroids STAY integer vectors.  Every value fits a double's 53-bit
    * mantissa exactly, so the whole pipeline — quantize, assign, update,
    * re-assign, probe — replays bit-for-bit in DuckDB: s4 carries a FULL
    * value oracle (the round-2/3 float-centroid form was rows-only: float
    * means are summation-order-dependent).  Only the FINAL candidate
    * scoring touches floats — the same round-4 cosine as s1, already
    * oracle-proven.  Recall vs the s1 brute-force truth stays asserted in
    * QueryPacksSpec. */
  private val IvfLists = 10
  private[graft] val IvfProbe = 3
  /** Quantization grid: `floor(x · 64)` (floor, never round — round's .5
    * tie rule differs across engines; floor is tie-free). */
  private[graft] val QuantScale = 64

  val s4AnnIvf = NamedQuery(
    "s4_ann_ivf",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      // 4 consumers (seeds, first assignment, final lists, query side)
      // would otherwise re-scan and re-quantize the corpus 4×; persist
      // MEMORY_AND_DISK (must spill, not OOM — the d3-shingles rule).
      val e = embGridOf(Tables.embeddings(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // seeds → assign → integer-mean centroids → re-assign (one k-means
      // step, deterministic at any partitioning)
      val seeds = Quantizer.seeds(e, Quantizer.Cells, col("vec_id") < IvfLists)
      val centroids = Quantizer.update(
        Quantizer.assign(e, seeds, Quantizer.Cells, "list_id", "qv"),
        Quantizer.Cells)
        // the centroid relation is IvfLists tiny rows but DERIVING it is
        // a full O(n·k) assignment pass — and BOTH consumers (the final
        // list assignment and the query-side probe) broadcast it, so
        // without a persist the whole k-means training subtree executes
        // twice (visible as two identical ObjectHashAggregate…Generate
        // chains in the round-7 EXPLAIN).  Modest at the driver SFs
        // (the vector corpus is tiny); at a real vector count the
        // duplicated pass is the dominant cost of the query.
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lists = Quantizer.assign(e, centroids, Quantizer.Cells,
        "vec_id", "list_id", "emb")

      // query side: probe the IvfProbe nearest lists by the same metric,
      // under the same packed broadcast the list assignment rides
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          norm(col("emb")).as("qn"), col("qv").as("qqv"))
      val probed = Quantizer.probe(q, "qqv", centroids, IvfProbe)
        .select(col("q_id"), col("qe"), col("qn"), explode(col("top")).as("t"))
        .select(col("q_id"), col("qe"), col("qn"), col("t.id").as("list_id"))

      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      lists
        .withColumn("nrm", norm(col("emb")))
        .join(broadcast(probed), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine", round(dot(col("qe"), col("emb")) / (col("qn") * col("nrm")), 4))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("nn_id"), col("cosine"))
        .orderBy(col("q_id"), col("rn"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      qz AS (
        SELECT vec_id, emb, list_transform(emb, x -> floor(x * $QuantScale)) AS qv
        FROM e),
      qz2 AS (SELECT vec_id, emb, qv, list_dot_product(qv, qv) AS vv FROM qz),
      seeds AS (
        SELECT CAST(vec_id AS INT) AS list_id, qv AS cent, vv AS cc
        FROM qz2 WHERE vec_id < $IvfLists),
      d0 AS (
        SELECT v.vec_id, s.list_id,
               v.vv - 2 * list_dot_product(v.qv, s.cent) + s.cc AS dist
        FROM qz2 v, seeds s),
      a0 AS (
        SELECT vec_id, list_id FROM (
          SELECT vec_id, list_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM d0) r WHERE rn = 1),
      cdim AS (
        SELECT a0.list_id, i, floor(sum(qv[i]) / count(*)) AS c
        FROM a0 JOIN qz2 USING (vec_id), range(1, 65) t(i)
        GROUP BY a0.list_id, i),
      cent1 AS (
        SELECT list_id, list(c ORDER BY i) AS cent FROM cdim GROUP BY list_id),
      cent2 AS (
        SELECT list_id, cent, list_dot_product(cent, cent) AS cc FROM cent1),
      d1 AS (
        SELECT v.vec_id, c.list_id,
               v.vv - 2 * list_dot_product(v.qv, c.cent) + c.cc AS dist
        FROM qz2 v, cent2 c),
      a1 AS (
        SELECT vec_id, list_id FROM (
          SELECT vec_id, list_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM d1) r WHERE rn = 1),
      qs AS (
        SELECT vec_id AS q_id, emb AS qe, qv AS qqv, vv AS qvv
        FROM qz2 WHERE vec_id < 5),
      pd AS (
        SELECT q_id, c.list_id,
               qvv - 2 * list_dot_product(qqv, c.cent) + c.cc AS dist
        FROM qs, cent2 c),
      probe AS (
        SELECT q_id, list_id FROM (
          SELECT q_id, list_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY dist, list_id) AS rn
          FROM pd) r WHERE rn <= $IvfProbe),
      sims AS (
        SELECT p.q_id, a1.vec_id AS nn_id,
               round(list_cosine_similarity(q.qe, e2.emb), 4) AS cosine
        FROM probe p
        JOIN a1 USING (list_id)
        JOIN qs q ON q.q_id = p.q_id
        JOIN e e2 ON e2.vec_id = a1.vec_id
        WHERE a1.vec_id <> p.q_id)
      SELECT q_id, CAST(rn AS INTEGER) AS rn, nn_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, nn_id) AS rn
        FROM sims) t
      WHERE rn <= 5 ORDER BY q_id, rn"""),
    doc = "IVF ANN: integer-L2 k-means(1-step) coarse quantizer, nprobe=3, " +
      "top-5; FULL value oracle — the quantizer replays in exact integer " +
      "arithmetic, only the final cosine touches floats (s1's proven form)")

  // ---------------------------------------------------------------- d5
  /** Spark-side round() parity: Catalyst's Round is
    * BigDecimal(JDouble.toString).setScale(HALF_UP) — replicated here so the
    * kernel's output is bit-identical to the declarative form (and to what
    * the DuckDB oracle matched). */
  private def round4(x: Double): Double =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Embedding-cosine near-dup pairs: all pairs above a cosine threshold —
    * the fifth dedup tier (after exact / Jaccard / MinHash / SimHash).
    *
    * Exact all-pairs SEMANTICS, computed DISTRIBUTED by block
    * decomposition: rows hash into `blocks` blocks, every unordered block
    * pair (i ≤ j) is a grouping key, and each group runs a primitive-array
    * pair kernel so only qualifying pairs materialize.  Shuffle volume is
    * (B+1)·n rows — linear in the corpus — and nothing is collected to the
    * driver.  Size B so one block pair (2n/B vectors) fits an executor.
    *
    * The kernel itself is SUB-QUADRATIC on clusterable data while staying
    * exact (the round-2 kernel compared every pair): each group greedily
    * leader-clusters its right side into balls of radius [[BallRadius]] in
    * normalized space, and a left row skips a whole ball when the triangle
    * inequality proves every member is below the threshold —
    * d(â, leader) > R + r  ⟹  d(â, b̂) ≥ d(â, leader) − r > R  ⟹
    * cos(a, b) = 1 − d²/2 < [[PruneCos]], which sits 5·10⁻⁵ below the
    * round-to-4-dp output cutoff (true cutoff: round4(cos) ≥ 0.4 ⟺
    * cos ≥ 0.39995), so floating-point noise (~1e-12) cannot flip a pruned
    * pair into the output.  Surviving pairs run the SAME raw-vector dot
    * loop as before — output is bit-identical to the all-pairs kernel,
    * which the equivalence spec asserts row-for-row.
    *
    * On data that does not cluster (isotropic random vectors — the known
    * worst case for any exact metric pruning, by concentration of
    * measure), ball construction hits [[maxBalls]] and the group falls
    * back to the plain pair loop, bounding overhead at ~maxBalls²/2 probe
    * distances per group (<1% of the group's pair cost).  Real embedding
    * corpora at 100 TB cluster heavily (the same structure IVF exploits),
    * so the pruned path is the expected path in production; the
    * comparison-count spec pins >50% savings on a planted clustered
    * corpus.  For approximate-but-cheaper tiers see s2/s5/d3/d4. */
  private val DedupBlocks = 16

  /** Prune when the cosine upper bound is below this — 5e-5 under the
    * round4 output cutoff of 0.39995, so pruning can never drop a pair
    * that would round to ≥ 0.4. */
  private val PruneCos = 0.3999
  /** Normalized-space distance equivalent of [[PruneCos]]:
    * cos = 1 − d²/2 ⟹ d = √(2 − 2·cos) ≈ 1.0955. */
  private val PruneR = math.sqrt(2.0 - 2.0 * PruneCos)
  /** Leader-clustering ball radius (normalized space). */
  private val BallRadius = 0.25
  /** Extra slack on the prune test, ≫ any fp error in the bound math. */
  private val PruneEps = 1e-6

  /** The d5 kernel over an arbitrary (vec_id, emb, nrm) corpus.
    *
    * @param prune        disable to force the plain all-pairs kernel
    *                     (the equivalence-spec reference path)
    * @param comparisons  when set, counts every 64-dim distance/dot the
    *                     kernel evaluates (ball builds, leader probes and
    *                     pair dots alike) — the honest denominator for the
    *                     sub-quadratic claim */
  def embeddingPairsOf(
      s: SparkSession,
      e: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
      blocks: Int = DedupBlocks,
      prune: Boolean = true,
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import s.implicits._
    val B = blocks
    val doPrune = prune
    val acc = comparisons
    // Replicate each row to every block pair it participates in: the
    // "left" side of keys (blk, j ≥ blk) and the "right" side of keys
    // (i ≤ blk, blk).  A cross-block pair meets under exactly one key in
    // one orientation; a same-block pair meets twice (both orientations)
    // and the id< guard in the kernel keeps one.
    val tagged = e.flatMap { case (id, emb, nrm) =>
      val blk = (id % B).toInt
      val asLeft  = (blk until B).iterator.map(j => (blk, j, 0, id, emb, nrm))
      val asRight = (0 to blk).iterator.map(i => (i, blk, 1, id, emb, nrm))
      asLeft ++ asRight
    }
    val pairs = tagged
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Int), rows: Iterator[(Int, Int, Int, Long, Array[Double], Double)]) =>
        val all = rows.toArray
        // deterministic ball construction + stable comparison counts
        val (lsRaw, rsRaw) = all.partition(_._3 == 0)
        val ls = lsRaw.sortBy(_._4)
        val rs = rsRaw.sortBy(_._4)
        val sameBlock = key._1 == key._2
        var nCompares = 0L

        def rawDot(ea: Array[Double], eb: Array[Double]): Double = {
          var sAcc = 0.0
          var i = 0
          val n = math.min(ea.length, eb.length)
          while (i < n) { sAcc += ea(i) * eb(i); i += 1 }
          sAcc
        }
        // normalized copies: pruning geometry only — never the output value
        def unit(t: (Int, Int, Int, Long, Array[Double], Double)): Array[Double] = {
          val emb = t._5; val nrm = t._6
          val u = new Array[Double](emb.length)
          var i = 0
          while (i < emb.length) { u(i) = emb(i) / nrm; i += 1 }
          u
        }
        def dist(a: Array[Double], b: Array[Double]): Double = {
          var sAcc = 0.0
          var i = 0
          val n = math.min(a.length, b.length)
          while (i < n) { val d = a(i) - b(i); sAcc += d * d; i += 1 }
          math.sqrt(sAcc)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        def comparePair(a: (Int, Int, Int, Long, Array[Double], Double),
                        b: (Int, Int, Int, Long, Array[Double], Double)): Unit = {
          val (ida, ea, na) = (a._4, a._5, a._6)
          val (idb, eb, nb) = (b._4, b._5, b._6)
          if (!(sameBlock && ida >= idb)) {
            nCompares += 1
            val cos = round4(rawDot(ea, eb) / (na * nb))
            if (cos >= 0.4)
              out += ((math.min(ida, idb), math.max(ida, idb), cos))
          }
        }

        // greedy leader clustering of rs: first-fit in id order; abort to
        // the all-pairs fallback if the data won't cluster
        val maxBalls = math.max(8, rs.length / 8)
        var fallback = !doPrune || rs.length < 32
        var leaders = Array.empty[Array[Double]]
        var memberOf = Array.empty[Array[Int]]
        if (!fallback) {
          val rsUnit = rs.map(unit)
          val lead = scala.collection.mutable.ArrayBuffer.empty[Int]
          val membs = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[Int]]
          var bi = 0
          while (bi < rs.length && !fallback) {
            var placed = false
            var li = 0
            while (!placed && li < lead.length) {
              nCompares += 1
              if (dist(rsUnit(bi), rsUnit(lead(li))) <= BallRadius) {
                membs(li) += bi; placed = true
              }
              li += 1
            }
            if (!placed) {
              if (lead.length >= maxBalls) fallback = true
              else { lead += bi; membs += scala.collection.mutable.ArrayBuffer(bi) }
            }
            bi += 1
          }
          if (!fallback) {
            leaders = lead.map(rsUnit).toArray
            memberOf = membs.map(_.toArray).toArray
          }
        }

        if (fallback) {
          var ai = 0
          while (ai < ls.length) {
            var bi = 0
            while (bi < rs.length) { comparePair(ls(ai), rs(bi)); bi += 1 }
            ai += 1
          }
        } else {
          val pruneAt = PruneR + BallRadius + PruneEps
          var ai = 0
          while (ai < ls.length) {
            val aUnit = unit(ls(ai))
            var li = 0
            while (li < leaders.length) {
              nCompares += 1
              if (dist(aUnit, leaders(li)) <= pruneAt) {
                val ms = memberOf(li)
                var mi = 0
                while (mi < ms.length) { comparePair(ls(ai), rs(ms(mi))); mi += 1 }
              }
              li += 1
            }
            ai += 1
          }
        }
        acc.foreach(_.add(nCompares))
        out.iterator
      }
      .toDF("vec_a", "vec_b", "cosine")
    // no ORDER BY here: callers that feed the pairs into a lineage cut
    // (d7) must not carry a range exchange, whose boundary sampling runs
    // a job at RDD-DAG build time — the d5 query sorts at its own top
    pairs
  }

  /** [[embeddingPairsOf]] over the `embeddings` table. */
  def embeddingPairs(
      s: SparkSession, dir: String,
      blocks: Int = DedupBlocks, prune: Boolean = true,
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
      .as[(Long, Array[Double], Double)]
    embeddingPairsOf(s, e, blocks, prune, comparisons)
  }

  val d5EmbeddingNearDup = NamedQuery(
    "d5_embedding_neardup",
    (s, dir) => embeddingPairs(s, dir).orderBy(col("vec_a"), col("vec_b")),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        round(list_cosine_similarity(a.emb, b.emb), 4) AS cosine
      FROM e a, e b
      WHERE a.vec_id < b.vec_id
        AND round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.4
      ORDER BY vec_a, vec_b"""),
    doc = "embedding-cosine near-dup pairs (threshold 0.4), oracle-checked")

  // ---------------------------------------------------------------- s6
  /** Int8 scalar quantization + quantized-cosine top-k — the production
    * memory/bandwidth path for ANN at 100 TB (4× smaller vectors than
    * float32, 8× smaller than the double pipeline; SIMD-able integer
    * dot products).  Per-vector symmetric quantization:
    * `q_i = floor(e_i·127/scale + 0.5)` with `scale = max|e_i|` — the
    * `floor(x+0.5)` form has no round-half tie mode, so Spark and DuckDB
    * agree bit-for-bit, and every quantized value and dot product is a
    * small integer represented EXACTLY in a double, which makes this the
    * rare ANN variant whose entire pipeline is value-oracled.  Recall vs
    * the exact s1 baseline is additionally pinned in QueryPacksSpec. */
  val s6AnnQuantized = NamedQuery(
    "s6_ann_quantized",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
        .withColumn("scale",
          greatest(array_max(transform(col("emb"), x => abs(x))), lit(1e-30)))
        .withColumn("qd",
          transform(col("emb"), x => floor(x * lit(127.0) / col("scale") + lit(0.5)))
            .cast("array<double>"))
        .withColumn("qn", sqrt(dot(col("qd"), col("qd"))))
        .select(col("vec_id"), col("qd"), col("qn"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("qd").as("qa"), col("qn").as("qna"))
      val sims = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("qcos", round(dot(col("qa"), col("qd")) / (col("qna") * col("qn")), 4))
      val w = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("vec_id"))
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("rn"), col("vec_id").as("nn_id"), col("qcos"))
        .orderBy(col("q_id"), col("rn"))
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        sc AS (SELECT vec_id, emb,
                 greatest(list_max(list_transform(emb, x -> abs(x))), 1e-30) AS scale
               FROM e),
        qv AS (SELECT vec_id,
                 list_transform(emb, x -> CAST(floor(x * 127.0 / scale + 0.5) AS DOUBLE)) AS qd
               FROM sc),
        n AS (SELECT vec_id, qd, sqrt(list_dot_product(qd, qd)) AS qn FROM qv),
        q AS (SELECT vec_id AS q_id, qd AS qa, qn AS qna FROM n WHERE vec_id < 5),
        sims AS (SELECT q_id, n.vec_id AS nn_id,
                   round(list_dot_product(qa, n.qd) / (qna * n.qn), 4) AS qcos
                 FROM q, n WHERE n.vec_id <> q_id)
      SELECT q_id, CAST(rn AS INTEGER) AS rn, nn_id, qcos FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY qcos DESC, nn_id) AS rn
        FROM sims) t
      WHERE rn <= 10 ORDER BY q_id, rn"""),
    doc = "int8 scalar-quantized ANN top-10 (exact integer dot products), oracle-checked")

  // ---------------------------------------------------------------- s7
  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011, public literature) — the
    * memory-bound scale path beyond s6's scalar quantization: the 64-dim
    * vector is split into [[PqM]] 8-dim subspaces, each quantized to one
    * of [[PqK]] codebook entries, so a corpus vector compresses to 8
    * bytes of codes and query-to-vector distance is computed by
    * Asymmetric Distance Computation — [[PqM]] lookups into a per-query
    * table of query-subvector→centroid distances, never touching the
    * vector itself.  At 100 TB the codes relation (vec_id + 8 bytes) is
    * ~1% of the raw embeddings and the ADC scan is a broadcast-hash-join
    * + sum — no full-width vector shuffle anywhere.
    *
    * Codebooks are trained per subspace by the s4 recipe (one k-means
    * step, seeds = first [[PqK]] subvectors) in EXACT INTEGER arithmetic
    * on the floor(x·64) grid: assignment minimizes `v·v − 2v·c + c·c`,
    * the update is the floored integer mean, so codebooks, codes, ADC
    * tables and approximate distances all replay bit-for-bit in DuckDB —
    * a FULL value oracle.  The top-20 ADC candidates are re-ranked by the
    * exact round-4 cosine (s1's proven form) for the final top-5; recall
    * vs the s1 brute-force truth is pinned in QueryPacksSpec. */
  private[graft] val PqM = 8  // subspaces
  private[graft] val PqD = 8  // dims per subspace
  private[queries] val PqK = 16 // codebook entries per subspace
  private val PqCand = 20 // ADC candidates re-ranked exactly

  val s7AnnPq = NamedQuery(
    "s7_ann_pq",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val e = embGridOf(Tables.embeddings(s, dir))
      // the m-th subvector of every grid vector: (vec_id, m, sv, svv)
      // 4 consumers (seeds, both codebook assignments, the query side)
      // would re-explode the corpus into its PqM subvectors each time;
      // persist MEMORY_AND_DISK (must spill, not OOM).
      val sub = Quantizer.subvectors(e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = Quantizer.seeds(sub, Quantizer.Codebooks, col("vec_id") < PqK)
      val cents1 = Quantizer.update(
        Quantizer.assign(sub, seeds, Quantizer.Codebooks, "m", "code", "sv"),
        Quantizer.Codebooks)
        // tiny (PqM·PqK rows) but derived by a full per-subspace
        // assignment pass; both consumers (the corpus coding and the
        // query-side ADC table) broadcast it — persist so the codebook
        // trains once, not twice (the s4-centroids fix, same shape).
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val codes = Quantizer.assign(sub, cents1, Quantizer.Codebooks,
        "vec_id", "m", "code")
      // ADC: per-query distance table over all (m, code) centroids
      val qsub = sub.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("m"),
          col("sv").as("qsv"), col("svv").as("qvv"))
      val dtab = qsub.join(broadcast(cents1), Seq("m"))
        .withColumn("d",
          col("qvv") - lit(2) * dot(col("qsv"), col("cent")) + col("cc"))
        .select(col("q_id"), col("m"), col("code"), col("d"))
      // approximate distance = Σ_m table[m, code_m(v)] — exact integers,
      // so the candidate cut is partition-order-free
      val approx = codes.join(broadcast(dtab), Seq("m", "code"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("d")).as("adist"))
      val wq = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id"))
      val cand = approx.withColumn("crn", row_number().over(wq))
        .filter(col("crn") <= PqCand)
        .select(col("q_id"), col("vec_id"))
      // exact re-rank of the ADC candidates (s1's round-4 cosine)
      val raw = e.withColumn("nrm", norm(col("emb")))
        .select(col("vec_id"), col("emb"), col("nrm"))
      val q = raw.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("nrm").as("qn"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      cand.join(raw, "vec_id").join(broadcast(q), "q_id")
        .withColumn("cosine",
          round(dot(col("qe"), col("emb")) / (col("qn") * col("nrm")), 4))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("nn_id"), col("cosine"))
        .orderBy(col("q_id"), col("rn"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      qz AS (
        SELECT vec_id, list_transform(emb, x -> floor(x * $QuantScale)) AS qv
        FROM e),
      sub AS (
        SELECT vec_id, CAST(t.m AS INT) AS m,
               qv[(CAST(t.m AS INT) * $PqD + 1):(CAST(t.m AS INT) * $PqD + $PqD)] AS sv
        FROM qz, range(0, $PqM) t(m)),
      sub2 AS (
        SELECT vec_id, m, sv, list_dot_product(sv, sv) AS svv FROM sub),
      seeds AS (
        SELECT m, CAST(vec_id AS INT) AS code, sv AS cent, svv AS cc
        FROM sub2 WHERE vec_id < $PqK),
      d0 AS (
        SELECT v.vec_id, v.m, s.code,
               v.svv - 2 * list_dot_product(v.sv, s.cent) + s.cc AS dist
        FROM sub2 v JOIN seeds s ON s.m = v.m),
      a0 AS (
        SELECT vec_id, m, code FROM (
          SELECT vec_id, m, code,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
          FROM d0) r WHERE rn = 1),
      cdim AS (
        SELECT a0.m, a0.code, i, floor(sum(sv[i]) / count(*)) AS c
        FROM a0 JOIN sub2 USING (vec_id, m), range(1, ${PqD + 1}) t(i)
        GROUP BY a0.m, a0.code, i),
      cent1 AS (
        SELECT m, code, list(c ORDER BY i) AS cent FROM cdim GROUP BY m, code),
      cent2 AS (
        SELECT m, code, cent, list_dot_product(cent, cent) AS cc FROM cent1),
      d1 AS (
        SELECT v.vec_id, v.m, c.code,
               v.svv - 2 * list_dot_product(v.sv, c.cent) + c.cc AS dist
        FROM sub2 v JOIN cent2 c ON c.m = v.m),
      codes AS (
        SELECT vec_id, m, code FROM (
          SELECT vec_id, m, code,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
          FROM d1) r WHERE rn = 1),
      qsub AS (
        SELECT vec_id AS q_id, m, sv AS qsv, svv AS qvv
        FROM sub2 WHERE vec_id < 5),
      dtab AS (
        SELECT q.q_id, c.m, c.code,
               q.qvv - 2 * list_dot_product(q.qsv, c.cent) + c.cc AS d
        FROM qsub q JOIN cent2 c ON c.m = q.m),
      approx AS (
        SELECT t.q_id, codes.vec_id, sum(t.d) AS adist
        FROM codes JOIN dtab t ON t.m = codes.m AND t.code = codes.code
        WHERE codes.vec_id <> t.q_id
        GROUP BY t.q_id, codes.vec_id),
      cand AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS crn
          FROM approx) r WHERE crn <= $PqCand),
      sims AS (
        SELECT c.q_id, c.vec_id AS nn_id,
               round(list_cosine_similarity(qe.emb, ce.emb), 4) AS cosine
        FROM cand c
        JOIN e qe ON qe.vec_id = c.q_id
        JOIN e ce ON ce.vec_id = c.vec_id)
      SELECT q_id, CAST(rn AS INTEGER) AS rn, nn_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, nn_id) AS rn
        FROM sims) t
      WHERE rn <= 5 ORDER BY q_id, rn"""),
    doc = "product-quantization ANN: 8x8-dim integer codebooks, ADC lookup " +
      "scan, exact top-20 re-rank to top-5; FULL value oracle (the s4 " +
      "integer-grid technique applied per subspace)")

  // ------------------------------------------------- bucketed pair source
  /** Cell count and per-vector assignment width of the BUCKETED embedding
    * pair source (compile-time constants, like d3's band geometry — the
    * d15 oracle inlines them).  Cells reuse s4's coarse-quantizer recipe;
    * probe = 3 assigns every vector to its THREE nearest cells so a pair
    * straddling a cell boundary still co-locates in a runner-up cell
    * (the multi-assignment analog of s5's multi-probe).  probe was 2
    * until the round-11 sweep (SCALING.md): 3 buys recall_bp 6750 → 9119
    * at sf0.1 (7457 → 9830 at sf0.01) for ~1.9× candidate volume — a
    * LINEAR cost in probe, never quadratic in n — and on the planted
    * clustered corpus (the tier's target regime) probe 3 is byte-identical
    * to probe 2 at IDENTICAL candidate volume, so the extra probe only
    * spends where the corpus is hard. */
  private val EmbedCells = 10
  private val EmbedProbe = 3
  /** k-means refinement rounds after seeding (the sweep in SCALING.md
    * measured {1, 2}: a second round is noise-inconsistent — +131 bp at
    * sf0.1, −169 bp at sf0.01, 0 on the planted corpus — and costs a
    * full extra training pass, so the cheaper default stands). */
  private val EmbedKmeansSteps = 1
  /** Runner-up boundary gate width: a vector keeps its p-th cell
    * (p ≥ 2) only when that cell's distance is within this percentage
    * of its best (dist·100 ≤ dbest·(100+pct) — exact integers, replays
    * in SQL; 25 ⇔ the historical 4·d ≤ 5·dbest form).  See the sweep
    * table in SCALING.md before changing. */
  private val EmbedBoundaryPct = 25

  /** BUCKETED embedding near-dup candidates + exact verify — the
    * dedup-tier twin of [[Dedup.bandedJaccardPairs]] for the embedding
    * graph, and the 100 TB path for CLUSTERED corpora (the regime real
    * embedding collections occupy — the same structural assumption
    * SemDeDup publishes; see d11): vectors are assigned to their `probe`
    * nearest k-means cells (s4's integer-grid trainer: deterministic
    * seeds, ONE update step, every distance an exact int64-in-double),
    * candidates are pairs sharing ≥ 1 cell — ONE equi-join shuffle on
    * the cell id, Θ(n·c̄·probe²) pairs where c̄ is mean cell occupancy,
    * never Θ(n²) — and every candidate re-verifies with the SAME
    * round-4 exact cosine as the d5 kernel, so precision is exact by
    * construction; only recall can drop (a pair whose members share no
    * assigned cell), which is precisely what the d15 certificate
    * measures against the exact relation before any deployment trusts
    * this tier (the d13 discipline).  At scale k grows with n to hold
    * c̄ constant (SemDeDup's cost model) and the cell id is a partition
    * key.
    *
    * Whole pipeline replays bit-for-bit in DuckDB (the s4 technique):
    * quantize → assign → integer-mean update → top-`probe` re-assign
    * are all exact integer arithmetic; only the final verify cosine
    * touches floats (s1's proven round-4 form).
    *
    * @param seedStride seeds are the `cells` vectors with
    *   `vec_id % seedStride == 0 && vec_id < cells·seedStride` —
    *   stride 1 is s4's "first k vectors" recipe (the d15/production
    *   default); a spec training on a planted corpus whose leading ids
    *   all share one cluster passes the cluster width to spread the
    *   seeds (the deterministic stand-in for sample-based seeding). */
  def bucketedEmbeddingPairsOf(
      s: SparkSession,
      corpus: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
      cells: Int = EmbedCells,
      probe: Int = EmbedProbe,
      seedStride: Long = 1L,
      kmeansSteps: Int = EmbedKmeansSteps,
      boundaryPct: Int = EmbedBoundaryPct): DataFrame = {
    val (cand, e) = bucketedEmbeddingCandidatesOf(
      s, corpus, cells, probe, seedStride, kmeansSteps, boundaryPct)
    // exact verify — the SAME arithmetic as the d5 kernel's comparePair
    // (graft_dot is the same sequential left fold as its rawDot), so a
    // surviving pair carries a bit-identical cosine to d5's
    val raw = e.select(col("vec_id"), col("emb"), col("nrm"))
    cand
      .join(raw.select(col("vec_id").as("vec_a"),
        col("emb").as("ea"), col("nrm").as("na")), "vec_a")
      .join(raw.select(col("vec_id").as("vec_b"),
        col("emb").as("eb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cosine", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** The CANDIDATE stage of [[bucketedEmbeddingPairsOf]] — split out so
    * the scaling spec can count candidate volume (the cost driver the
    * SCALING.md curve measures) without the verify stage.  Returns
    * `(cand(vec_a, vec_b), e)` where `e` is the persisted quantized
    * corpus the verify joins back to. */
  private[queries] def bucketedEmbeddingCandidatesOf(
      s: SparkSession,
      corpus: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
      cells: Int,
      probe: Int,
      seedStride: Long,
      kmeansSteps: Int = EmbedKmeansSteps,
      boundaryPct: Int = EmbedBoundaryPct): (DataFrame, DataFrame) = {
    require(probe >= 1 && probe <= cells, s"probe=$probe outside [1, $cells]")
    require(kmeansSteps >= 1, s"kmeansSteps=$kmeansSteps must be >= 1")
    require(boundaryPct >= 0, s"boundaryPct=$boundaryPct must be >= 0")
    graft.sentiment.GraftFunctions.register(s)
    // 5 consumers (seeds, both assignment passes, both verify sides):
    // persist MEMORY_AND_DISK (must spill, not OOM — the d3-shingles
    // rule).  The persisted subtree is scan+transform only (no joins),
    // so no broadcast ever hides inside a cached entry.
    val e = Derivations.persist(Quantizer.grid(corpus.toDF("vec_id", "emb", "nrm")))
    // `kmeansSteps` assign + update rounds run at construction; each
    // embeds one more copy of the (tiny) centroid subtree, so the sweep
    // range {1, 2} costs plan size, never a lineage explosion.
    val centroids = (1 to kmeansSteps).foldLeft(
      Quantizer.strideSeeds(e, Quantizer.Cells, cells, seedStride))((c, _) =>
      Quantizer.update(Quantizer.assign(e, c, Quantizer.Cells, "list_id", "qv"),
        Quantizer.Cells))
    // top-`probe` cells per vector, ordered by (dist, list_id) — the
    // exact-integer total order, so the cut is deterministic at any
    // partitioning.  (The packed row is bounded by the CELL COUNT, never
    // the corpus; a deployment with k ~ 10⁵ cells shards the centroid
    // set instead.)
    //
    // BOUNDARY GATE on the runner-up assignments: a vector keeps its
    // p-th cell (p ≥ 2) only when that cell's distance is within 25% of
    // its best (4·dist_p ≤ 5·dist_1 — exact integers, replays in SQL).
    // Multi-assignment exists to catch pairs STRADDLING a cell boundary;
    // an interior vector (every other cell ≫ its own) contributes no
    // such pair, and without the gate its deterministic runner-up
    // tie-break FUNNELS all interior vectors into the lowest-id
    // near-tied cell — a mega-cell that quietly rebuilds the quadratic
    // candidate volume the tier exists to avoid (measured on the
    // planted-cluster corpus: 44% of all-pairs without the gate, exactly
    // the linear within-cell volume with it, at IDENTICAL measured
    // recall on the driver corpus — d15's numbers are unchanged).
    // persisted: `am` feeds BOTH sides of the cell self-join below, and a
    // kernel projection (unlike the old groupBy form) has no exchange for
    // ReuseExchange to share — without the persist each join side re-runs
    // the assignment pass
    val am = Derivations.persist(
      Quantizer.probe(e, "qv", centroids, probe)
      .select(col("vec_id"), col("top")(0).getField("d").as("dbest"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .filter(col("pos") === 0 ||
        col("t.d") * 100 <= col("dbest") * (100 + boundaryPct))
      .select(col("vec_id"), col("t.id").as("list_id")))
    // ONE equi-join shuffle on the cell id; a pair sharing both cells
    // dedups in the distinct
    val cand = am.select(col("list_id"), col("vec_id").as("vec_a"))
      .join(am.select(col("list_id"), col("vec_id").as("vec_b")), Seq("list_id"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    (cand, e)
  }

  /** [[bucketedEmbeddingPairsOf]] over the `embeddings` table at the
    * compile-time defaults (the d15-certified configuration). */
  def bucketedEmbeddingPairs(s: SparkSession, dir: String): DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
      .as[(Long, Array[Double], Double)]
    bucketedEmbeddingPairsOf(s, e)
  }

  /** The pair-source selector for the EMBEDDING dup graph —
    * `spark.graft.embed.pairs = exact | bucketed | radius` (default
    * `exact`; `radius` is the provably-complete s16 ball source, guarded
    * by the mass meter — see the radius-mass guard below),
    * mirroring `spark.graft.dedup.pairs` with the OPPOSITE default, for
    * a measured reason: the d13 certificate proved ZERO banding loss on
    * the Jaccard graph (recall_bp = 10000), which authorized flipping
    * that tier; the d15 certificate on THIS corpus measures recall_bp ≈
    * 9119–9830 (probe 3 after the round-11 sweep; 6750–7450 at the old
    * probe 2) — the driver embeddings are near-isotropic (cell radii
    * ≈ 1.3 of a possible √2) and 98% of the ≥ 0.4 pairs sit in the
    * borderline 0.40–0.50 band, the regime where NO bucketing scheme
    * can be complete (the certificate exists to measure exactly this),
    * so even the swept frontier stays short of 10000.
    * So `exact` stays the default and `bucketed` is the opt-in scale
    * path for corpora that cluster — where the spec's planted-cluster
    * fixture shows recall_bp = 10000 and linear candidate growth
    * (SCALING.md).  The audit decides, not the architecture.
    * Round 12 made this the ACCEPTED posture, not a pending gap: the
    * s16 radius certificate proves the residual is geometry — at
    * τ = 0.4 the triangle-completeness ball exceeds the quantized
    * sphere's diameter, so any complete assignment probes every cell
    * on any corpus, and the uncapped-probe sweep reaches 10000 bp only
    * at 99.998% of all-pairs (SCALING.md round-12 section).
    *
    * Precision is exact under EITHER source (both verify with the same
    * round-4 cosine), so flipping can only shrink the pair set — and
    * d15 reports by how much, continuously.
    *
    * Construction caveat (t20/t21's class): under `bucketed`, d7's
    * propagation cuts truncate a plan carrying explicit centroid
    * broadcasts, whose futures submit while the cut RDD is built —
    * inherent to iterating over a broadcast-trained relation, nothing
    * driver-side. */
  def embedPairs(s: SparkSession, dir: String,
      sourceOverride: Option[String] = None): DataFrame = {
    val source = sourceOverride.getOrElse(
      s.conf.getOption("spark.graft.embed.pairs").getOrElse("exact") match {
        case v @ ("exact" | "bucketed" | "radius") => v
        case other => throw new IllegalArgumentException(
          s"spark.graft.embed.pairs must be 'exact', 'bucketed' or 'radius', got '$other'")
      })
    val pairs = (source match {
      case "bucketed" => bucketedEmbeddingPairs(s, dir)
      case "radius" => radiusCompleteEmbeddingPairs(s, dir)
      case _ => embeddingPairs(s, dir)
    }).select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    // RADIUS-MASS GUARD (round-12 verdict #5, wired round 13): the
    // radius source is provably COMPLETE at any τ (s16's triangle
    // bound), but completeness is only worth flipping to when it is
    // also SELECTIVE — and s16's mass meter prices that per corpus per
    // τ WITHOUT running the pair join.  A conf-selected flip therefore
    // consults the memoized 1-row certificate and fails loudly when
    // the ball assignment would degenerate toward all-pairs
    // (cell_mass_bp above the cap — at τ = 4000 the theorem makes it
    // 10000 on ANY corpus, so the default flip fails by design: use
    // exact there, or raise the cap deliberately to accept all-pairs
    // cost with a completeness proof attached).  Same union-with-
    // conditionally-failing-row wiring as the recall-floor guard; only
    // conf-selected flips are guarded (sourceOverride callers are the
    // certificate machinery).
    val radiusGuarded =
      if (source != "radius" || sourceOverride.nonEmpty) pairs
      else {
        val capBp = s.conf.getOption("spark.graft.embed.radius.maxCellMassBp")
          .map(_.toLong).getOrElse(RadiusMaxCellMassBp)
        val cert = radiusMassCert(s, dir, EmbedPairTauBp)
        val detail = "s16's mass meter says provable completeness is not " +
          "selective at tau=" + EmbedPairTauBp + " on this corpus (the " +
          "ball assignment degenerates toward all-pairs); keep " +
          "spark.graft.embed.pairs=exact, or raise the cap deliberately " +
          "to accept the cost with the completeness proof attached"
        s.conf.getOption("spark.graft.embed.recallGuard").getOrElse("fail") match {
          case "warn" =>
            // null cell_mass_bp (empty/degenerate corpus) = no evidence of
            // degeneracy: treat as 0 so warn mode agrees with fail mode,
            // whose `null > cap` filter passes the same input silently
            val certRow = cert.collect().head
            val bp = if (certRow.isNullAt(0)) 0L else certRow.getLong(0)
            if (bp > capBp) org.slf4j.LoggerFactory.getLogger("graft.Similarity").warn(
              s"graft: embed pair source 'radius' measured cell_mass_bp $bp > " +
                s"spark.graft.embed.radius.maxCellMassBp=$capBp on $dir — " +
                "proceeding because spark.graft.embed.recallGuard=warn")
            pairs
          case "fail" => massCapGuard(pairs, cert, capBp,
            "spark.graft.embed.radius.maxCellMassBp", detail)
          case other => throw new IllegalArgumentException(
            s"spark.graft.embed.recallGuard must be 'fail' or 'warn', got '$other'")
        }
      }
    val pairsOut = radiusGuarded
    // RECALL-FLOOR GUARD (round-10 verdict #4): a conf-selected flip to
    // the bucketed source under `spark.graft.embed.minRecallBp` measures
    // the d15 certificate (memoized; `spark.graft.embed.recallSampleMod`
    // thins the corpus deterministically) and fails loudly below the
    // floor.  Only the CONF-selected flip is guarded: a sourceOverride
    // caller is the certificate machinery itself (d15 measures the
    // bucketed source to DECIDE — guarding it would be circular).
    val floorBp =
      if (source != "bucketed" || sourceOverride.nonEmpty) None
      else s.conf.getOption("spark.graft.embed.minRecallBp").map(_.toLong)
    floorBp.fold(pairsOut) { f =>
      val sampleMod = s.conf.getOption("spark.graft.embed.recallSampleMod")
        .map(_.toLong).getOrElse(1L)
      val cert = embedRecallCert(s, dir, sampleMod)
      s.conf.getOption("spark.graft.embed.recallGuard").getOrElse("fail") match {
        case "warn" =>
          // diagnostic mode: measure eagerly (the one guard mode that
          // runs jobs at selector time — it must LOG, which a plan
          // cannot) and let the pairs flow regardless
          val bp = cert.collect().head.getLong(0)
          if (bp < f) org.slf4j.LoggerFactory.getLogger("graft.Similarity").warn(
            s"graft: embed pair source 'bucketed' measured recall $bp bp < " +
              s"spark.graft.embed.minRecallBp=$f (sampleMod=$sampleMod) on $dir — " +
              "proceeding because spark.graft.embed.recallGuard=warn")
          pairsOut
        case "fail" =>
          recallFloorGuard(pairsOut, cert, f, "spark.graft.embed.minRecallBp",
            "the bucketed embedding pair source would silently lose near-dup " +
              "pairs on this corpus; keep spark.graft.embed.pairs=exact, retune " +
              "cells/probe, or lower the floor deliberately (sampleMod=" +
              sampleMod + ")")
        case other => throw new IllegalArgumentException(
          s"spark.graft.embed.recallGuard must be 'fail' or 'warn', got '$other'")
      }
    }
  }

  // ---------------------------------------------------------------- d15
  /** Embedding-bucketing recall certificate — d13's audit applied to the
    * embedding dup graph (round-9 verdict #1): the bucketed pair source
    * measured against the exact ≥ 0.4 relation (the d5 kernel's — the
    * prune-equivalence-pinned ground truth), recall/precision in integer
    * basis points.  Precision is 10000 by construction (shared exact
    * verify) and the query PROVES it rather than asserting it; recall is
    * the number that decides whether `spark.graft.embed.pairs=bucketed`
    * is safe for a given corpus — on the driver corpus it is NOT (see
    * [[embedPairs]]), which is the certificate doing its job.
    *
    * Scale shape: the composed pipelines are the cost; the harness adds
    * one equi-join on the pair key and three 1-row aggregates joined by
    * s1-style constant-side broadcasts (above every cut — safe to
    * hint). */
  val d15EmbedRecall = NamedQuery(
    "d15_embed_recall",
    (s, dir) => {
      // both relations feed two consumers (overlap join + count): persist
      // or the full pipelines execute twice (the d13 rationale)
      val exact = Derivations.persist(embedPairs(s, dir, sourceOverride = Some("exact")))
      val bucketed = Derivations.persist(embedPairs(s, dir, sourceOverride = Some("bucketed")))
      val hits = bucketed.join(exact, Seq("doc_a", "doc_b"))
      val ne = exact.agg(count(lit(1)).as("n_exact"))
      val nb = bucketed.agg(count(lit(1)).as("n_bucketed"))
      val nh = hits.agg(count(lit(1)).as("hits"))
      ne.crossJoin(broadcast(nb)).crossJoin(broadcast(nh))
        .select(col("n_exact"), col("n_bucketed"), col("hits"),
          expr("(hits * 10000) div nullif(n_exact, 0)").as("recall_bp"),
          expr("(hits * 10000) div nullif(n_bucketed, 0)").as("precision_bp"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      exact AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM e a, e b
        WHERE a.vec_id < b.vec_id
          AND round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.4),
      qz AS (
        SELECT vec_id, emb, list_transform(emb, x -> floor(x * $QuantScale)) AS qv
        FROM e),
      qz2 AS (SELECT vec_id, emb, qv, list_dot_product(qv, qv) AS vv FROM qz),
      seeds AS (
        SELECT CAST(vec_id AS INT) AS list_id, qv AS cent, vv AS cc
        FROM qz2 WHERE vec_id < $EmbedCells),
      d0 AS (
        SELECT v.vec_id, s.list_id,
               v.vv - 2 * list_dot_product(v.qv, s.cent) + s.cc AS dist
        FROM qz2 v, seeds s),
      a0 AS (
        SELECT vec_id, list_id FROM (
          SELECT vec_id, list_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM d0) r WHERE rn = 1),
      cdim AS (
        SELECT a0.list_id, i, floor(sum(qv[i]) / count(*)) AS c
        FROM a0 JOIN qz2 USING (vec_id), range(1, 65) t(i)
        GROUP BY a0.list_id, i),
      cent1 AS (
        SELECT list_id, list(c ORDER BY i) AS cent FROM cdim GROUP BY list_id),
      cent2 AS (
        SELECT list_id, cent, list_dot_product(cent, cent) AS cc FROM cent1),
      d1 AS (
        SELECT v.vec_id, c.list_id,
               v.vv - 2 * list_dot_product(v.qv, c.cent) + c.cc AS dist
        FROM qz2 v, cent2 c),
      am AS (
        SELECT vec_id, list_id FROM (
          SELECT vec_id, list_id, dist,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn,
                 min(dist) OVER (PARTITION BY vec_id) AS dbest
          FROM d1) r
        WHERE rn <= $EmbedProbe AND (rn = 1 OR dist * 4 <= dbest * 5)),
      cand AS (
        SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM am a JOIN am b ON a.list_id = b.list_id AND a.vec_id < b.vec_id),
      bucketed AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN e ea ON ea.vec_id = c.doc_a
        JOIN e eb ON eb.vec_id = c.doc_b
        WHERE round(list_cosine_similarity(ea.emb, eb.emb), 4) >= 0.4),
      hits AS (
        SELECT b.doc_a, b.doc_b FROM bucketed b
        JOIN exact x ON b.doc_a = x.doc_a AND b.doc_b = x.doc_b)
      SELECT
        (SELECT count(*) FROM exact)    AS n_exact,
        (SELECT count(*) FROM bucketed) AS n_bucketed,
        (SELECT count(*) FROM hits)     AS hits,
        CAST((SELECT count(*) FROM hits) * 10000
          // nullif((SELECT count(*) FROM exact), 0) AS BIGINT) AS recall_bp,
        CAST((SELECT count(*) FROM hits) * 10000
          // nullif((SELECT count(*) FROM bucketed), 0) AS BIGINT) AS precision_bp"""),
    doc = "embedding-bucketing recall certificate: the cell-scoped pair " +
      s"source (integer k-means cells, probe-$EmbedProbe multi-assignment, exact " +
      "verify) measured against d5's exact >=0.4 relation, " +
      "recall/precision in integer basis points; FULL value oracle " +
      "(the s4 integer-grid technique)")

  // ---------------------------------------------------------------- d7
  /** Duplicate-cluster assignment over the EMBEDDING near-dup graph — the
    * d6 composition applied to d5's cosine pairs instead of the Jaccard
    * graph, labeling each vector with its component's minimum vec_id.
    * Pure reuse: the pair source is [[embedPairs]] (exact ball-pruned
    * kernel by default; the d15-audited bucketed tier by conf) and the
    * propagation core is [[Dedup.propagateLabels]] (lineage-cut rounds +
    * runtime fixpoint guard), proving both are generic over their graph.
    * The oracle restates the fixpoint as a recursive CTE over the exact
    * pair predicate (the default source). */
  val d7EmbeddingClusters = NamedQuery(
    "d7_embedding_clusters",
    (s, dir) => {
      // loose cosine threshold ⟹ chaining graph (diameter 16 at sf0.1):
      // hash-to-min's log-round propagation, 8 rounds of margin
      val rounds = s.conf.getOption("spark.graft.cc.rounds").map(_.toInt).getOrElse(8)
      val pairs = embedPairs(s, dir)
      Dedup.propagateLabels(s, pairs, rounds, hashToMin = true)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH RECURSIVE e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      pairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM e a, e b
        WHERE a.vec_id < b.vec_id
          AND round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.4),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e2.src, r.label FROM edges e2 JOIN reach r ON e2.dst = r.node),
      labels AS (SELECT node AS vec_id, min(label) AS cluster_id
                 FROM reach GROUP BY node)
      SELECT vec_id, cluster_id FROM labels ORDER BY vec_id"""),
    doc = "connected components over the embedding near-dup graph (d5 pairs + " +
      "d6's propagation core) vs a recursive-CTE oracle")

  // ---------------------------------------------------------------- s8
  /** Time-series similarity search — top-k most similar users by their
    * daily activity profile (cf. distributed streaming-series similarity
    * work, EDBT 2019 family, public literature), the non-text/non-
    * embedding similarity tier: each user's series is the SPARSE integer
    * vector {day → event count}, and pair dot products come from an
    * INVERTED-INDEX equi-join on the day key — each day contributes only
    * the users active THAT day, never an all-pairs scan (the sparse-
    * feature analog of the shingle join d2 uses for sets and the bucket
    * join s2 uses for dense vectors).  At 100 TB the day key is the
    * partition key and the join volume is Σ_day |active|·|query-active|.
    * Counts, squared norms and dot products are exact integers; only the
    * final cosine touches floats (s1's proven round-4 form — sqrt is
    * IEEE-correctly-rounded in both engines). */
  val s8SeriesSimilarity = NamedQuery(
    "s8_series_similarity",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val DayUs = 86400L * 1000000L
      val series = Tables.events(s, dir)
        .select(col("user_id"), expr(s"unix_micros(ts) DIV $DayUs").as("day"))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n"))
      val norms = series.groupBy(col("user_id"))
        .agg(sum(col("n") * col("n")).as("nn"))
      val q = series.filter(col("user_id") < 5)
        .select(col("user_id").as("q_id"), col("day"), col("n").as("qn"))
      val dots = series.join(broadcast(q), Seq("day"))
        .filter(col("user_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("user_id"))
        .agg(sum(col("n") * col("qn")).as("dot"))
      val qNorms = norms.select(col("user_id").as("q_id"), col("nn").as("qnn"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("user_id"))
      dots
        .join(norms, "user_id")
        .join(broadcast(qNorms), "q_id")
        .withColumn("cosine",
          round(col("dot") / (sqrt(col("nn")) * sqrt(col("qnn"))), 4))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("user_id").as("nn_id"), col("cosine"))
        .orderBy(col("q_id"), col("rn"))
    },
    Some("""WITH series AS (
        SELECT user_id,
          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
          count(*) AS n
        FROM events GROUP BY user_id, day),
      norms AS (
        SELECT user_id, CAST(sum(n * n) AS BIGINT) AS nn
        FROM series GROUP BY user_id),
      q AS (SELECT user_id AS q_id, day, n AS qn FROM series WHERE user_id < 5),
      dots AS (
        SELECT q.q_id, s.user_id, CAST(sum(s.n * q.qn) AS BIGINT) AS dot
        FROM series s JOIN q ON s.day = q.day AND s.user_id <> q.q_id
        GROUP BY q.q_id, s.user_id),
      sims AS (
        SELECT d.q_id, d.user_id AS nn_id,
          round(CAST(d.dot AS DOUBLE)
            / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))), 4) AS cosine
        FROM dots d
        JOIN norms na ON na.user_id = d.user_id
        JOIN norms nb ON nb.user_id = d.q_id)
      SELECT q_id, CAST(rn AS INTEGER) AS rn, nn_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, nn_id) AS rn
        FROM sims) t
      WHERE rn <= 5 ORDER BY q_id, rn"""),
    doc = "time-series similarity: top-5 users by daily-activity-profile " +
      "cosine via an inverted day-index join (sparse integer vectors, " +
      "never all-pairs)")

  // ---------------------------------------------------------------- s3
  val s3LabelCentroids = NamedQuery(
    "s3_label_centroids",
    (s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(asDouble(col("embedding"))).as(Seq("pos", "v")))
        .withColumn("dim", col("pos") + 1)
        .groupBy(col("label"), col("dim"))
        .agg(round(avg(col("v")), 4).as("centroid"))
        .filter(col("dim") <= 8)
        .orderBy(col("label"), col("dim"))
    },
    Some("""SELECT label, CAST(i AS INT) AS dim,
        round(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 4) AS centroid
      FROM embeddings, range(1, 9) AS t(i)
      GROUP BY label, dim ORDER BY label, dim"""),
    doc = "per-label centroids via posexplode (first 8 dims)")

  // ---------------------------------------------------------------- d11
  /** Cluster-scoped pairwise threshold: cos(a,b) ≥ 0.4, tested in exact
    * integer arithmetic on the floor(x·64) grid — `dot > 0 ∧ 25·dot² ≥
    * 4·|a|²·|b|²` (0.4² = 4/25; magnitudes stay < 2⁵³, so doubles carry
    * the integers exactly and DuckDB replays bit-for-bit). */
  private val SemNum = 4L
  private val SemDenom = 25L

  /** SemDeDup — semantic deduplication by cluster-then-prune (Abbas et
    * al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", 2023, public literature): k-means-cluster
    * the embeddings, compare pairs ONLY within a cluster, and inside
    * each group of mutual near-duplicates keep the example farthest from
    * its centroid (the paper's keep-low-centroid-similarity rule — it
    * preserves the cluster's outer variety), dropping the rest.
    *
    * This is the missing tier between d5 (exact pairwise near-dup — the
    * baseline that scans Θ(n²) candidate space, ball-pruned) and d7
    * (whole-cluster grouping): at 100 TB nobody runs d5 corpus-wide; the
    * published recipe bounds the quadratic term to cluster scope.  The
    * clustering is the s4 IVF trainer verbatim — deterministic seeds
    * (first [[IvfLists]] vectors), one k-means step in exact integer
    * arithmetic on the floor(x·64) grid — so every distance, centroid
    * coordinate, and similarity test replays exactly in DuckDB.
    *
    * Scale shape: centroids are broadcast (k rows) — the corpus is never
    * shuffled for assignment ([[Quantizer.assign]], zero exchanges);
    * the pair stage shuffles once, on `list_id`, and compares Θ(n·c̄)
    * pairs where c̄ is mean cluster size — at 100 TB, k grows with n to
    * hold c̄ constant (the paper's cost model), and the vectors riding
    * that one shuffle would be s7's 8-byte PQ codes rather than raw
    * floats.  The dominance prune ("∃ a similar, more-peripheral, or
    * id-smaller-tied example") is the published implementation's
    * triu-max-sim rule under the (centroid-distance, id) total order: a
    * doc is dropped against ANY higher-order similar doc, retained or
    * not, so similarity chains over-drop relative to component-wise
    * keep-one — deliberately, as the paper does — and the kept set is
    * guaranteed τ-separated within every cluster.  One pass, no
    * iteration, unlike d6's component propagation. */
  val d11SemanticDedup = NamedQuery(
    "d11_semantic_dedup",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      val e = embGridOf(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("qv"), col("vv"))
      val seeds = Quantizer.seeds(e, Quantizer.Cells, col("vec_id") < IvfLists)
      val centroids = Quantizer.update(
        Quantizer.assign(e, seeds, Quantizer.Cells, "list_id", "qv"),
        Quantizer.Cells)
      // s4's assignment plus the winning distance (the prune rule needs
      // it).  3 consumers (both pair sides + the final kept-join) would
      // each re-derive the whole k-means assignment — including the
      // centroid training subtree — without a persist (the s4-centroids
      // fix); MEMORY_AND_DISK so the labeled corpus spills rather than OOMs.
      val m = Quantizer.assign(e, centroids, Quantizer.Cells,
        "vec_id", "list_id", "dist", "qv", "vv")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      // ONE shuffle on list_id; pairs never leave their cluster.
      val lhs = m.select(col("list_id"), col("vec_id").as("ia"),
        col("qv").as("qa"), col("vv").as("va"), col("dist").as("da"))
      val rhs = m.select(col("list_id"), col("vec_id").as("ib"),
        col("qv").as("qb"), col("vv").as("vb"), col("dist").as("db"))
      val dropped = lhs.join(rhs, Seq("list_id"))
        .filter(col("ia") =!= col("ib"))
        .withColumn("dab", dot(col("qa"), col("qb")))
        .filter(col("dab") > 0 &&
          lit(SemDenom) * col("dab") * col("dab") >= lit(SemNum) * col("va") * col("vb"))
        .filter(col("da") > col("db") ||
          (col("da") === col("db") && col("ia") < col("ib")))
        .select(col("ib").as("vec_id")).distinct()

      m.join(dropped.withColumn("gone", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("list_id"),
          col("dist").cast("long").as("dist"),
          col("gone").isNull.as("kept"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      qz AS (
        SELECT vec_id, list_transform(emb, x -> floor(x * $QuantScale)) AS qv
        FROM e),
      qz2 AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS vv FROM qz),
      seeds AS (
        SELECT CAST(vec_id AS INT) AS list_id, qv AS cent, vv AS cc
        FROM qz2 WHERE vec_id < $IvfLists),
      d0 AS (
        SELECT v.vec_id, s.list_id,
               v.vv - 2 * list_dot_product(v.qv, s.cent) + s.cc AS dist
        FROM qz2 v, seeds s),
      a0 AS (
        SELECT vec_id, list_id FROM (
          SELECT vec_id, list_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM d0) r WHERE rn = 1),
      cdim AS (
        SELECT a0.list_id, i, floor(sum(qv[i]) / count(*)) AS c
        FROM a0 JOIN qz2 USING (vec_id), range(1, 65) t(i)
        GROUP BY a0.list_id, i),
      cent1 AS (
        SELECT list_id, list(c ORDER BY i) AS cent FROM cdim GROUP BY list_id),
      cent2 AS (
        SELECT list_id, cent, list_dot_product(cent, cent) AS cc FROM cent1),
      d1 AS (
        SELECT v.vec_id, c.list_id,
               v.vv - 2 * list_dot_product(v.qv, c.cent) + c.cc AS dist
        FROM qz2 v, cent2 c),
      m AS (
        SELECT r.vec_id, r.list_id, r.dist, qz2.qv, qz2.vv FROM (
          SELECT vec_id, list_id, dist,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM d1) r JOIN qz2 USING (vec_id) WHERE rn = 1),
      dropped AS (
        SELECT DISTINCT b.vec_id
        FROM m a JOIN m b ON a.list_id = b.list_id AND a.vec_id <> b.vec_id
        WHERE list_dot_product(a.qv, b.qv) > 0
          AND $SemDenom * list_dot_product(a.qv, b.qv) * list_dot_product(a.qv, b.qv)
              >= $SemNum * a.vv * b.vv
          AND (a.dist > b.dist OR (a.dist = b.dist AND a.vec_id < b.vec_id)))
      SELECT m.vec_id, m.list_id, CAST(m.dist AS BIGINT) AS dist,
             m.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
      FROM m ORDER BY m.vec_id"""),
    doc = "SemDeDup cluster-then-prune semantic dedup (k-means scope, " +
      "keep-farthest-from-centroid, exact integer arithmetic), oracle-checked")

  // ---------------------------------------------------------------- s9
  /** ANN recall evaluation — the harness a production similarity
    * deployment runs CONTINUOUSLY, not once: every approximate tier is
    * measured against the exact ground truth (s1's brute-force top-k)
    * per query point, and a recall regression (an index drifting out of
    * date, a re-trained quantizer, a bad bucket split) pages before
    * users notice.  Here the two LSH tiers are scored at k=5:
    * single-probe (s2) vs multi-probe (s5) — multi-probe's whole reason
    * to exist is the recall it buys back at 9× probed volume, and this
    * query MEASURES that dominance instead of asserting it.
    *
    * Recall@5 is pure integer arithmetic (hits·10⁴ div k, floor), and
    * each tier's candidate pipeline is the REAL oracled query's own
    * `fn`/oracle SQL — the harness composes them verbatim (single
    * source of truth), so the recall numbers inherit the tiers' own
    * value-oracle guarantees end to end.
    *
    * Scale shape: all the heavy lifting happens inside the composed
    * tier queries (each already gated broadcast/bucketed); the harness
    * itself joins three ≤k·|queries|-row relations — broadcast
    * territory at any SF. */
  /** The shared recall@5 harness body: each named tier's REAL oracled
    * pipeline is scored against s1's exact top-5 per query — composed
    * verbatim (single source of truth), so the recall numbers inherit
    * the tiers' own value-oracle guarantees end to end.  Split across
    * two queries (s9: the LSH tiers; s10: the index tiers) purely so the
    * gate's per-query isolation doesn't run every ANN pipeline per
    * harness invocation. */
  private def recallHarnessFn(tiers: Seq[(String, NamedQuery)])(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // exact feeds base + the per-tier joins, each approx feeds a join +
    // a count: persist both so the composed tier pipelines (the actual
    // heavy lifting) execute once, not once per consumer.
    val exact = s1AnnBruteForce.fn(s, dir)
      .filter(col("rn") <= 5).select(col("q_id"), col("nn_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = exact.groupBy(col("q_id")).agg(count(lit(1)).as("exact_k"))
    def recallOf(tier: String, approxFull: DataFrame) = {
      val approx = approxFull.select(col("q_id"), col("nn_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hits = approx.join(broadcast(exact), Seq("q_id", "nn_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
      val ak = approx.groupBy(col("q_id")).agg(count(lit(1)).as("approx_k"))
      base.join(broadcast(ak), Seq("q_id"), "left")
        .join(broadcast(hits), Seq("q_id"), "left")
        .select(lit(tier).as("tier"), col("q_id"), col("exact_k"),
          coalesce(col("approx_k"), lit(0L)).as("approx_k"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          expr("(coalesce(hits, 0L) * 10000) div exact_k").as("recall_bp"))
    }
    tiers.map { case (name, q) => recallOf(name, q.fn(s, dir)) }
      .reduce(_ unionAll _)
      .orderBy(col("tier"), col("q_id"))
  }

  /** The same harness as DuckDB SQL, composing each tier's own oracle. */
  private def recallHarnessSql(tiers: Seq[(String, NamedQuery)]): String = {
    val tierCtes = tiers.map { case (name, q) =>
      s"a_$name AS (SELECT q_id, nn_id FROM (${q.oracle.get}) t)"
    }.mkString(",\n        ")
    val scored = tiers.map { case (name, _) =>
      s"""SELECT '$name' AS tier, b.q_id, b.exact_k,
            (SELECT count(*) FROM a_$name a WHERE a.q_id = b.q_id) AS approx_k,
            (SELECT count(*) FROM a_$name a JOIN exact e
              ON a.q_id = e.q_id AND a.nn_id = e.nn_id
              WHERE a.q_id = b.q_id) AS hits
          FROM base b"""
    }.mkString("\n          UNION ALL ")
    s"""WITH exact_full AS (${s1AnnBruteForce.oracle.get}),
        exact AS (SELECT q_id, nn_id FROM exact_full WHERE rn <= 5),
        base AS (SELECT q_id, count(*) AS exact_k FROM exact GROUP BY q_id),
        $tierCtes,
        scored AS (
          $scored)
      SELECT tier, q_id, CAST(exact_k AS BIGINT) AS exact_k,
        CAST(approx_k AS BIGINT) AS approx_k, CAST(hits AS BIGINT) AS hits,
        CAST(hits * 10000 // exact_k AS BIGINT) AS recall_bp
      FROM scored ORDER BY tier, q_id"""
  }

  /** ANN recall evaluation — the harness a production similarity
    * deployment runs CONTINUOUSLY, not once: every approximate tier is
    * measured against the exact ground truth (s1's brute-force top-k)
    * per query point, and a recall regression (an index drifting out of
    * date, a re-trained quantizer, a bad bucket split) pages before
    * users notice.  Here the two LSH tiers are scored at k=5:
    * single-probe (s2) vs multi-probe (s5) — multi-probe's whole reason
    * to exist is the recall it buys back at 9× probed volume, and this
    * query MEASURES that dominance instead of asserting it.
    *
    * Recall@5 is pure integer arithmetic (hits·10⁴ div k, floor), and
    * each tier's candidate pipeline is the REAL oracled query's own
    * `fn`/oracle SQL — see [[recallHarnessFn]].
    *
    * Scale shape: all the heavy lifting happens inside the composed
    * tier queries (each already gated broadcast/bucketed); the harness
    * itself joins three ≤k·|queries|-row relations — broadcast
    * territory at any SF. */
  val s9AnnRecall = {
    val tiers = Seq("lsh" -> s2AnnLsh, "multiprobe" -> s5AnnMultiProbe)
    NamedQuery(
      "s9_ann_recall",
      recallHarnessFn(tiers),
      Some(recallHarnessSql(tiers)),
      doc = "ANN recall@5 harness: single-probe (s2) and multi-probe (s5) " +
        "LSH scored against s1's exact top-5 per query, integer basis-point " +
        "recall, composed from the tiers' own oracled pipelines")
  }

  /** The INDEX-tier recall harness — s9's measurement extended to the
    * tiers a production ANN deployment actually serves from: IVF (s4 —
    * coarse lists, probe the nearest IvfProbe), scalar quantization
    * (s6 — int8 per-vector symmetric, the memory/bandwidth tier) and
    * PQ/ADC (s7 — product quantization with asymmetric distance
    * re-ranked over PqCand candidates).  All three trade recall for
    * probe volume or precision in ways that RETRAIN or RESCALE with
    * the data (centroids, codebooks, per-vector scales), which is
    * exactly why a deployment re-scores them continuously: a stale
    * codebook or a saturating scale shows up here as a recall drop
    * long before it shows up in user metrics.  With s6 added (round 9)
    * every approximate ANN tier in the library is recall-harnessed:
    * s2/s5 under s9, s4/s6/s7 here.  Same harness body, same integer
    * recall arithmetic, same composed-from-oracled-tiers guarantee as
    * s9. */
  val s10IndexRecall = {
    // s6 SERVES top-10 (its own contract); recall@5 scores its top-5 cut,
    // so the sq tier is the oracled s6 pipeline filtered to rn <= 5 —
    // still composed verbatim (filter over the tier's own fn + oracle),
    // and approx_k stays 5 like the other tiers
    val s6Top5 = NamedQuery(
      "s6_top5_for_recall",
      (s, dir) => s6AnnQuantized.fn(s, dir).filter(col("rn") <= 5),
      Some(s"SELECT * FROM (${s6AnnQuantized.oracle.get}) s6full WHERE rn <= 5"),
      doc = "s6's top-5 cut, harness-internal")
    val tiers = Seq("ivf" -> s4AnnIvf, "pq" -> s7AnnPq, "sq" -> s6Top5)
    NamedQuery(
      "s10_index_recall",
      recallHarnessFn(tiers),
      Some(recallHarnessSql(tiers)),
      doc = "ANN recall@5 harness over the index tiers: IVF (s4), " +
        "int8 scalar quantization (s6) and PQ/ADC (s7) scored against " +
        "s1's exact top-5 per query, integer basis-point recall, " +
        "composed from the tiers' own oracled pipelines")
  }

  // ---------------------------------------------------------------- s11
  /** EMBEDDING-SPACE drift — the multimodal companion of a13's value
    * drift: when the corpus (or the encoder) shifts, the per-dimension
    * means of the embedding distribution move, and a deployment wants
    * to know WHICH dimensions moved most before retraining an index or
    * an ANN quantizer on stale geometry (a moved dimension invalidates
    * s4's centroids and s7's codebooks — the indexes s10 re-scores).
    *
    * Exact integer arithmetic end to end (the a13 discipline applied to
    * vectors): each component quantizes to `floor(x·2²⁰)` (a
    * power-of-two scale — the multiply and floor are EXACT on float-
    * valued doubles in both engines), periods split by `vec_id % 2`
    * (standing in for before/after snapshots), and the per-dimension
    * statistic is the cross-multiplied mean gap `|s1·n0 − s0·n1|` — no
    * division, no float accumulation, so the whole pipeline replays
    * bit-for-bit in DuckDB (float SUM order-dependence is exactly what
    * the quantization avoids).  Top-5 moved dimensions, fully ordered.
    *
    * Scale shape: one posexplode → a (dim)-keyed partial-agg (map-side
    * combines to ≤ 64 rows per task) → one 64-row shuffle — counts ride
    * the SAME aggregate as the sums, PER DIMENSION, and count only
    * non-null components, so null embeddings (encoder failures), ragged
    * arrays AND null elements inside an array contribute to exactly the
    * dimensions they carry values for: each dimension's mean gap uses
    * its own denominators, never a row count the sums didn't see.  Magnitudes:
    * |q| ≤ 2²³ here, so s·n ≈ 2⁵² at sf0.1 — int64-safe; past ~10⁹
    * vectors the sums cast to decimal(38) (a12's regime note). */
  val s11EmbeddingDrift = NamedQuery(
    "s11_embedding_drift",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      val x = e.select((col("vec_id") % 2).cast("int").as("period"),
        posexplode(transform(col("emb"),
          v => floor(v * lit(1048576.0)).cast("long"))).as(Seq("dim", "q")))
      // the counts test q IS NOT NULL like the sums implicitly do (a null
      // q contributes nothing to sum(when(period=…, q))): a null ELEMENT
      // inside a non-null embedding must not inflate a denominator its
      // sum never saw — the per-dimension-denominator contract
      x.groupBy(col("dim"))
        .agg(sum(when(col("period") === 0, col("q")).otherwise(0L)).as("s0"),
          sum(when(col("period") === 1, col("q")).otherwise(0L)).as("s1"),
          sum(when(col("period") === 0 && col("q").isNotNull, 1L).otherwise(0L)).as("n0"),
          sum(when(col("period") === 1 && col("q").isNotNull, 1L).otherwise(0L)).as("n1"))
        .withColumn("shift_scaled", abs(col("s1") * col("n0") - col("s0") * col("n1")))
        .orderBy(col("shift_scaled").desc, col("dim"))
        .limit(5)
        .select(col("dim"), col("n0"), col("n1"), col("s0"), col("s1"),
          col("shift_scaled"))
        .orderBy(col("shift_scaled").desc, col("dim"))
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        x AS (SELECT vec_id % 2 AS period,
                CAST(generate_subscripts(emb, 1) - 1 AS INT) AS dim,
                CAST(floor(unnest(emb) * 1048576) AS BIGINT) AS q
              FROM e),
        g AS (SELECT dim,
                CAST(sum(CASE WHEN period = 0 THEN q ELSE 0 END) AS BIGINT) AS s0,
                CAST(sum(CASE WHEN period = 1 THEN q ELSE 0 END) AS BIGINT) AS s1,
                CAST(sum(CASE WHEN period = 0 AND q IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                CAST(sum(CASE WHEN period = 1 AND q IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1
              FROM x GROUP BY dim)
      SELECT dim, n0, n1, s0, s1, abs(s1 * n0 - s0 * n1) AS shift_scaled
      FROM g ORDER BY shift_scaled DESC, dim LIMIT 5"""),
    doc = "embedding-space drift: per-dimension integer-exact " +
      "cross-multiplied mean gap between vec_id-parity snapshots " +
      "(floor(x*2^20) quantization), top-5 moved dimensions; " +
      "FULL value oracle")

  // ---------------------------------------------------------------- s12
  /** VARIANCE drift — s11's blind spot closed: a dimension whose mean
    * holds but whose SPREAD doubles also degrades IVF cells and PQ
    * codebooks (the indexes partition by distance, not by mean), and
    * s11's first-moment gap cannot see it.  Same integer-grid
    * technique applied to the SECOND moment: per dimension, the
    * cross-multiplied E[x²] gap `|ss1·n0 − ss0·n1|` where
    * `ss = Σ q²` — no division, no float accumulation, full oracle.
    *
    * The grid is COARSER than s11's (`floor(x·2¹⁰)`, not 2²⁰): the
    * statistic squares the quantized value, so magnitudes go q² ≈ 2²⁰
    * per element, ss ≈ n·2²⁰, and the cross-multiply ss·n ≈ n²·2²⁰ —
    * int64-exact through ~3M vectors per snapshot (where s11's linear
    * form reaches ~10⁹).  Past that, promote the sums to decimal(38)
    * (the a12 regime note); the 2¹⁰ grid itself keeps ~3 decimal
    * digits of each component, ample for a top-5 ranking whose input
    * shifts are multiplicative.
    *
    * Scale shape and null contract are s11's verbatim: one posexplode,
    * one (dim)-keyed partial agg combining map-side to ≤ 64 rows per
    * task, counts test q IS NOT NULL so null embeddings, ragged arrays
    * and null elements count only toward dimensions they carry values
    * for. */
  val s12VarianceDrift = NamedQuery(
    "s12_variance_drift",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      val x = e.select((col("vec_id") % 2).cast("int").as("period"),
        posexplode(transform(col("emb"),
          v => floor(v * lit(1024.0)).cast("long"))).as(Seq("dim", "q")))
      x.groupBy(col("dim"))
        .agg(sum(when(col("period") === 0, col("q") * col("q")).otherwise(0L)).as("ss0"),
          sum(when(col("period") === 1, col("q") * col("q")).otherwise(0L)).as("ss1"),
          sum(when(col("period") === 0 && col("q").isNotNull, 1L).otherwise(0L)).as("n0"),
          sum(when(col("period") === 1 && col("q").isNotNull, 1L).otherwise(0L)).as("n1"))
        .withColumn("spread_scaled", abs(col("ss1") * col("n0") - col("ss0") * col("n1")))
        .orderBy(col("spread_scaled").desc, col("dim"))
        .limit(5)
        .select(col("dim"), col("n0"), col("n1"), col("ss0"), col("ss1"),
          col("spread_scaled"))
        .orderBy(col("spread_scaled").desc, col("dim"))
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        x AS (SELECT vec_id % 2 AS period,
                CAST(generate_subscripts(emb, 1) - 1 AS INT) AS dim,
                CAST(floor(unnest(emb) * 1024) AS BIGINT) AS q
              FROM e),
        g AS (SELECT dim,
                CAST(sum(CASE WHEN period = 0 THEN q * q ELSE 0 END) AS BIGINT) AS ss0,
                CAST(sum(CASE WHEN period = 1 THEN q * q ELSE 0 END) AS BIGINT) AS ss1,
                CAST(sum(CASE WHEN period = 0 AND q IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                CAST(sum(CASE WHEN period = 1 AND q IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1
              FROM x GROUP BY dim)
      SELECT dim, n0, n1, ss0, ss1, abs(ss1 * n0 - ss0 * n1) AS spread_scaled
      FROM g ORDER BY spread_scaled DESC, dim LIMIT 5"""),
    doc = "embedding variance drift: per-dimension integer-exact " +
      "cross-multiplied second-moment gap between vec_id-parity " +
      "snapshots (floor(x*2^10) grid — squares stay int64), top-5 " +
      "spread-shifted dimensions; FULL value oracle")

  // ---------------------------------------------------------------- s13
  /** IVF index STALENESS audit — d14's "stored index" story told for the
    * ANN side, and the maintenance operator behind s10's recall scores:
    * a production IVF index is trained once on the archive and then
    * serves a stream of new data; it goes stale two ways — occupancy
    * drifts (new data crowds into cells the index sized for less) and
    * geometry drifts (new vectors sit FARTHER from their nearest
    * centroid, inflating every probe's candidate error).  This query
    * measures both, per cell: centroids train on the ARCHIVE ONLY
    * (vec_id % 10 ≠ 7 — d14's slice convention; the s4 recipe, one
    * integer k-means step, cells labeled by their seed's vec_id), both
    * sides assign one-sided against the trained centroids (at 100 TB
    * the archive's assignment is the STORED index — only the incoming
    * slice pays a fresh argmin), and the per-cell report carries the
    * cross-multiplied occupancy shift `n_inc·t_arch − n_arch·t_inc`
    * and mean-distance shift `d_inc·n_arch − d_arch·n_inc` (positive =
    * incoming sits farther), both exact int64 — no division, no
    * floats, FULL value oracle.
    *
    * Magnitudes: per-vector integer distance ≲ 2²⁴ on this grid, summed
    * ≲ 2³⁵ at sf0.1, cross-multiplied ≲ 2⁴⁶ — int64-safe with orders of
    * margin; a 10⁹-vector deployment promotes the cross-products to
    * decimal(38) (the a12 regime note).  Scale shape: seeds and
    * centroids broadcast; every assignment a map-side
    * [[Quantizer.assign]] projection; the report is a k-row aggregate joined to a 1-row
    * total by the d13 constant-side broadcast. */
  /** The incoming-slice predicate shared by s13 and d14 (the "today's
    * crawl" convention). */
  private[graft] val s13IsNew: Column => Column = c => c % 10 === 7

  /** Per-`key` archive/incoming occupancy and integer distance mass of an
    * assignment `(vec_id, key, dist)` — the staleness split of s13, s14
    * and both c13 legs: `(key, n_arch, n_inc, <mass>_arch, <mass>_inc)`. */
  private def archIncSplit(assigned: DataFrame, key: String, mass: String): DataFrame = {
    val isNew = s13IsNew(col("vec_id"))
    assigned.groupBy(col(key)).agg(
      sum(when(!isNew, 1L).otherwise(0L)).as("n_arch"),
      sum(when(isNew, 1L).otherwise(0L)).as("n_inc"),
      sum(when(!isNew, col("dist")).otherwise(0.0)).cast("long").as(s"${mass}_arch"),
      sum(when(isNew, col("dist")).otherwise(0.0)).cast("long").as(s"${mass}_inc"))
  }

  /** s13's quantized corpus relation (persisted + memoized — the 4
    * consumers of the batch audit, plus the live twin's index builders,
    * share ONE materialization per session). */
  private def s13Quantized(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s13Quantized", embStamp(s, dir)) {
      graft.sentiment.GraftFunctions.register(s)
      Derivations.persist(embGridOf(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("qv"), col("vv")))
    }

  /** s13's ARCHIVE-trained centroids over the quantized corpus `e`:
    * 10 archive seeds (ids 0..10 minus the incoming id 7 — cells keep
    * their seed's vec_id as the label, no renumbering to replay), one
    * floored-integer-mean k-means step.  The incoming slice never
    * influences the index — the staleness statistic depends on it. */
  private def s13Centroids(e: DataFrame): DataFrame = {
    val archive = e.filter(!s13IsNew(col("vec_id")))
    val seeds = Quantizer.seeds(archive, Quantizer.Cells, col("vec_id") <= IvfLists)
    Quantizer.update(Quantizer.assign(archive, seeds, Quantizer.Cells, "list_id", "qv"),
      Quantizer.Cells)
  }

  /** The trained (stale, archive-only) index as a memoized persisted
    * 10-row relation — ONE training pass per session no matter how many
    * consumers (batch audit, index export, archive stats, s15 refresh)
    * read it. */
  private def s13TrainedCentroids(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s13TrainedCentroids", embStamp(s, dir))(
      Derivations.persist(s13Centroids(s13Quantized(s, dir))))

  /** s13's trained index as a DRIVER-SIDE value — how a production
    * consumer loads a stored IVF index (10 cells × 64 dims, not a
    * distributed relation); feeds the live staleness monitor's
    * scan-side assignment (`stream/LiveIndexStaleness`). */
  def s13IndexArray(s: SparkSession, dir: String): Array[(Int, Array[Double], Double)] =
    s13TrainedCentroids(s, dir).collect().map { r =>
      (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2))
    }

  /** The STORED side of the staleness report: per-cell archive occupancy
    * and integer distance mass under the trained index — at 100 TB this
    * relation is maintained with the index, not recomputed (d14's stored-
    * index story), which is exactly how the live twin consumes it. */
  def s13ArchiveCellStats(s: SparkSession, dir: String): DataFrame = {
    val e = s13Quantized(s, dir)
    Quantizer.assign(e.filter(!s13IsNew(col("vec_id"))), s13TrainedCentroids(s, dir),
        Quantizer.Cells, "list_id", "dist")
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_arch"),
        sum(col("dist")).cast("long").as("d_arch"))
  }

  /** The shared DuckDB CTE chain of s13 and s15: quantize → archive
    * seeds → one training step (cent2 = the stale archive-trained index)
    * → full-corpus assignment `m(vec_id, list_id, dist)` under it. */
  private[queries] def s13OracleCtes: String = s"""e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      qz AS (
        SELECT vec_id, list_transform(emb, x -> floor(x * $QuantScale)) AS qv
        FROM e),
      qz2 AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS vv FROM qz),
      arch AS (SELECT * FROM qz2 WHERE vec_id % 10 <> 7),
      seeds AS (
        SELECT CAST(vec_id AS INT) AS list_id, qv AS cent, vv AS cc
        FROM arch WHERE vec_id <= $IvfLists),
      d0 AS (
        SELECT v.vec_id, s.list_id,
               v.vv - 2 * list_dot_product(v.qv, s.cent) + s.cc AS dist
        FROM arch v, seeds s),
      a0 AS (
        SELECT vec_id, list_id FROM (
          SELECT vec_id, list_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM d0) r WHERE rn = 1),
      cdim AS (
        SELECT a0.list_id, i, floor(sum(qv[i]) / count(*)) AS c
        FROM a0 JOIN qz2 USING (vec_id), range(1, 65) t(i)
        GROUP BY a0.list_id, i),
      cent1 AS (
        SELECT list_id, list(c ORDER BY i) AS cent FROM cdim GROUP BY list_id),
      cent2 AS (
        SELECT list_id, cent, list_dot_product(cent, cent) AS cc FROM cent1),
      d1 AS (
        SELECT v.vec_id, c.list_id,
               v.vv - 2 * list_dot_product(v.qv, c.cent) + c.cc AS dist
        FROM qz2 v, cent2 c),
      m AS (
        SELECT vec_id, list_id, dist FROM (
          SELECT vec_id, list_id, dist,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM d1) r WHERE rn = 1)"""

  val s13IndexStaleness = NamedQuery(
    "s13_index_staleness",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      val per = archIncSplit(Quantizer.assign(s13Quantized(s, dir),
        s13TrainedCentroids(s, dir), Quantizer.Cells, "vec_id", "list_id", "dist"),
        "list_id", "d")
      val tot = per.agg(sum(col("n_arch")).as("t_arch"), sum(col("n_inc")).as("t_inc"))
      per.crossJoin(broadcast(tot))
        .select(col("list_id"), col("n_arch"), col("n_inc"),
          col("d_arch"), col("d_inc"),
          (col("n_inc") * col("t_arch") - col("n_arch") * col("t_inc")).as("occ_shift_x"),
          (col("d_inc") * col("n_arch") - col("d_arch") * col("n_inc")).as("dist_shift_x"))
        .orderBy(col("list_id"))
    },
    Some(s"""WITH $s13OracleCtes,
      per AS (
        SELECT list_id,
          CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_arch,
          CAST(sum(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_inc,
          CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN dist ELSE 0 END) AS BIGINT) AS d_arch,
          CAST(sum(CASE WHEN vec_id % 10 = 7 THEN dist ELSE 0 END) AS BIGINT) AS d_inc
        FROM m GROUP BY list_id),
      tot AS (
        SELECT CAST(sum(n_arch) AS BIGINT) AS t_arch,
               CAST(sum(n_inc) AS BIGINT) AS t_inc FROM per)
      SELECT list_id, n_arch, n_inc, d_arch, d_inc,
        n_inc * t_arch - n_arch * t_inc AS occ_shift_x,
        d_inc * n_arch - d_arch * n_inc AS dist_shift_x
      FROM per, tot ORDER BY list_id"""),
    doc = "IVF index staleness audit: centroids train on the archive " +
      "(vec_id%10<>7) only, both sides assign one-sided, per-cell " +
      "cross-multiplied occupancy and mean-distance shifts in exact " +
      "int64 — the maintenance signal behind s10's recall scores; " +
      "FULL value oracle")

  // ---------------------------------------------------------------- s15
  /** The full-corpus assignment under the STALE index — s15's shared
    * input (the update step and the before-stats both read it), persisted
    * and memoized so it computes once per session.  At 100 TB this
    * relation is the stored index's posting lists plus the incoming
    * slice's fresh argmin — d14's stored-index story again. */
  private def s15StaleAssignment(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s15StaleAssignment", embStamp(s, dir))(
      Derivations.persist(Quantizer.assign(s13Quantized(s, dir), s13TrainedCentroids(s, dir),
        Quantizer.Cells, "vec_id", "list_id", "dist", "qv")))

  /** IVF warm-start REFRESH — the "what would retraining buy" companion
    * to s13's "how stale is it": start from the STORED (archive-trained,
    * stale) centroids, apply ONE floored-integer-mean k-means update over
    * the FULL corpus (archive + incoming — warm start: no re-seeding; the
    * update is the exact step the original training applied,
    * [[Quantizer.update]], or the two indexes would differ by recipe
    * instead of by data), and report per cell what the refresh delivers:
    *
    *   n_before / n_after   full-corpus occupancy under stale vs refreshed
    *   disp                 squared integer displacement ‖c_old − c_new‖²
    *   d_before / d_after   integer distance mass under stale vs refreshed
    *
    * A cell receiving no vectors in the update KEEPS its stale centroid
    * (the standard empty-cell rule, replayed in SQL with left join +
    * coalesce — disp is then exactly 0).  Scale shape: the stale index,
    * the refreshed index and both per-cell stats are ≤ k rows (broadcast
    * joins throughout); the stale assignment is persisted once for its
    * two consumers; the refreshed assignment is one more broadcast argmin
    * pass over the memoized quantized corpus — three corpus passes total,
    * zero corpus shuffles.  All arithmetic exact int64 (dist ≲ 2²⁴ summed
    * ≲ 2³⁵; disp ≲ 2²⁰; the a12/decimal(38) regime note beyond ~10⁹
    * vectors).  FULL value oracle via the shared [[s13OracleCtes]]. */
  /** s15's per-cell refresh report as a memoized persisted ≤ k-row
    * relation — the NamedQuery below returns it, and c13's IVF leg
    * ([[ivfRefreshLeg]]) reads its d_before/d_after sums, so composing
    * the refresh decision costs ~one audit, not two. */
  /** The REFRESHED IVF index with its stale predecessor alongside —
    * `(list_id, cent, cc, cent_old, cc_old)`: one integer-mean update
    * from the memoized stale assignment, empty cells keeping their old
    * centroid (the s15 empty-cell rule).  Extracted from the report
    * builder so c16's serving-model export reads the PARAMETERS, not
    * just the report's priced deltas; ≤ k rows, memoized. */
  private[queries] def s15RefreshedCentroids(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s15RefreshedCentroids", embStamp(s, dir)) {
      graft.sentiment.GraftFunctions.register(s)
      Quantizer.warmUpdate(s13TrainedCentroids(s, dir),
        s15StaleAssignment(s, dir), Quantizer.Cells)
    }

  private[queries] def s15RefreshReport(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s15RefreshReport", embStamp(s, dir)) {
      graft.sentiment.GraftFunctions.register(s)
      val refreshed = s15RefreshedCentroids(s, dir)
      refreshReport(refreshed, s15StaleAssignment(s, dir),
        Quantizer.assign(s13Quantized(s, dir), refreshed, Quantizer.Cells, "list_id", "dist"),
        Quantizer.Cells, "d")
    }

  /** The per-centroid report of a warm-start refresh: `refreshed` is a
    * [[Quantizer.warmUpdate]] relation, `before`/`after` the assignments
    * `(keys…, dist)` under its stale and refreshed centroids.  Returns
    * `(keys…, n_before, n_after, disp, <mass>_before, <mass>_after)`,
    * ordered and persisted.
    *
    * Before/after stats come from ONE aggregate over the tagged union
    * (r18): the two-relation form paid two exchanges, two broadcast
    * builds and two joins to land four columns next to each other.  The
    * dist values are exact integers-in-double, so conditional sums with
    * 0.0 padding are bit-identical to per-relation sums, and a centroid
    * absent from one side reads 0 exactly as a left-join+coalesce would;
    * a centroid with no rows on either side has no group either way. */
  private def refreshReport(refreshed: DataFrame, before: DataFrame,
      after: DataFrame, sp: Quantizer.Space, mass: String): DataFrame = {
    val keys = (sp.by :+ sp.id).map(col)
    val ba = before.select(keys ++ Seq(col("dist"), lit(true).as("is_b")): _*)
      .unionByName(after.select(keys ++ Seq(col("dist"), lit(false).as("is_b")): _*))
      .groupBy(keys: _*)
      .agg(
        sum(when(col("is_b"), 1L).otherwise(0L)).as("n_before"),
        sum(when(!col("is_b"), 1L).otherwise(0L)).as("n_after"),
        sum(when(col("is_b"), col("dist")).otherwise(0.0))
          .cast("long").as(s"${mass}_before"),
        sum(when(!col("is_b"), col("dist")).otherwise(0.0))
          .cast("long").as(s"${mass}_after"))
    Derivations.persist(refreshed
      .withColumn("disp",
        (col("cc_old") - lit(2) * dot(col("cent_old"), col("cent")) + col("cc"))
          .cast("long"))
      .join(broadcast(ba), sp.by :+ sp.id, "left")
      .select(keys ++ Seq(
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        col("disp"),
        coalesce(col(s"${mass}_before"), lit(0L)).as(s"${mass}_before"),
        coalesce(col(s"${mass}_after"), lit(0L)).as(s"${mass}_after")): _*)
      .orderBy(keys: _*))
  }

  /** The s15 warm-start-refresh CTE chain appended to [[s13OracleCtes]]:
    * one integer-mean update from the full-corpus stale assignment `m`
    * (cd2/cent3a), empty-cell keep rule (cent3), and the full-corpus
    * re-assignment `m2` under the refreshed index.  Shared by s15's
    * oracle and c13's IVF leg. */
  private[queries] def s15RefreshCtes: String = s"""cd2 AS (
        SELECT m.list_id, i, floor(sum(qv[i]) / count(*)) AS c
        FROM m JOIN qz2 USING (vec_id), range(1, 65) t(i)
        GROUP BY m.list_id, i),
      cent3a AS (
        SELECT list_id, list(c ORDER BY i) AS cent FROM cd2 GROUP BY list_id),
      cent3 AS (
        SELECT s.list_id, coalesce(n.cent, s.cent) AS cent, s.cent AS cent_old
        FROM cent2 s LEFT JOIN cent3a n USING (list_id)),
      cent3x AS (
        SELECT list_id, cent, list_dot_product(cent, cent) AS cc, cent_old
        FROM cent3),
      d2 AS (
        SELECT v.vec_id, c.list_id,
               v.vv - 2 * list_dot_product(v.qv, c.cent) + c.cc AS dist
        FROM qz2 v, cent3x c),
      m2 AS (
        SELECT vec_id, list_id, dist FROM (
          SELECT vec_id, list_id, dist,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM d2) r WHERE rn = 1)"""

  val s15WarmStartRefresh = NamedQuery(
    "s15_warmstart_refresh",
    (s, dir) => s15RefreshReport(s, dir),
    Some(s"""WITH $s13OracleCtes,
      $s15RefreshCtes,
      bef AS (
        SELECT list_id, CAST(count(*) AS BIGINT) AS n_before,
               CAST(sum(dist) AS BIGINT) AS d_before
        FROM m GROUP BY list_id),
      aft AS (
        SELECT list_id, CAST(count(*) AS BIGINT) AS n_after,
               CAST(sum(dist) AS BIGINT) AS d_after
        FROM m2 GROUP BY list_id)
      SELECT c.list_id,
        CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
        CAST(coalesce(n_after, 0) AS BIGINT) AS n_after,
        CAST(list_dot_product(cent_old, cent_old)
             - 2 * list_dot_product(cent_old, cent)
             + list_dot_product(cent, cent) AS BIGINT) AS disp,
        CAST(coalesce(d_before, 0) AS BIGINT) AS d_before,
        CAST(coalesce(d_after, 0) AS BIGINT) AS d_after
      FROM cent3x c LEFT JOIN bef USING (list_id) LEFT JOIN aft USING (list_id)
      ORDER BY c.list_id"""),
    doc = "IVF warm-start refresh: one integer-mean k-means update over " +
      "archive+incoming starting from the stored archive-trained " +
      "centroids — per-cell occupancy rebalance, squared centroid " +
      "displacement and distance-mass change (what retraining would " +
      "buy, s13's companion); FULL value oracle via the shared CTEs")

  // ---------------------------------------------------------------- s14
  /** PQ CODEBOOK staleness — s13's product-quantization sibling,
    * completing the index-maintenance pair: s13 monitors the COARSE
    * level (IVF cell occupancy/geometry), s14 monitors the FINE level
    * (the per-subspace codebooks every ADC distance in s7 reads).  A
    * codebook trained on yesterday's distribution quantizes today's
    * vectors with higher error, and that error is ADDED to every
    * approximate distance — recall decays silently (s9 would measure
    * the decay after the fact; s14 names the subspace drifting before).
    *
    * Shape: codebooks train on the ARCHIVE slice only (vec_id % 10 ≠ 7,
    * d14's convention; seeds = the archive subvectors with vec_id <
    * PqK, one floored-integer-mean k-means step — s7's recipe scoped to
    * the archive), then ALL vectors assign per subspace one-sided
    * against the trained codebooks, and the per-subspace report carries
    * the exact integer quantization-error masses and the
    * cross-multiplied error shift `err_inc·n_arch − err_arch·n_inc`
    * (positive = incoming quantizes worse).  Magnitudes: per-subvector
    * error ≲ 2²¹ on this grid, summed ≲ 2³⁵, cross-multiplied ≲ 2⁴⁹ —
    * int64-safe with margin (the a12/decimal(38) regime note applies
    * beyond ~10⁸ vectors).  Scale shape: the subvector explode is the
    * one corpus-sized relation (persisted — s7's rule), codebooks are
    * PqM·PqK rows broadcast everywhere, assignments are map-side
    * [[Quantizer.assign]] projections, the report is a PqM-row aggregate. */
  /** s14's persisted per-subspace subvector relation over `embeddings`:
    * `(vec_id, m, sv, svv)` on the integer grid (s7's explode).
    * Memoized per (session, dir) — the batch audit, the codebook export
    * and the archive-stats export share ONE materialization. */
  private def s14Subvectors(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s14Subvectors", embStamp(s, dir)) {
      graft.sentiment.GraftFunctions.register(s)
      // derived from the memoized s13 quantized relation: both staleness
      // families share one corpus scan per composed session
      Derivations.persist(Quantizer.subvectors(s13Quantized(s, dir)))
    }

  /** s14's ARCHIVE-trained per-subspace codebooks: seeds = the archive
    * subvectors with vec_id < PqK, one floored-integer-mean k-means
    * step (s7's recipe scoped to the archive — the incoming slice never
    * influences the codebooks; the staleness statistic depends on it). */
  private def s14Codebooks(sub: DataFrame): DataFrame = {
    val asub = sub.filter(!s13IsNew(col("vec_id")))
    val seeds = Quantizer.seeds(asub, Quantizer.Codebooks, col("vec_id") < PqK)
    Quantizer.update(Quantizer.assign(asub, seeds, Quantizer.Codebooks, "m", "code", "sv"),
      Quantizer.Codebooks)
  }

  /** The trained (stale, archive-only) codebooks as a memoized persisted
    * PqM·PqK-row relation — ONE training pass per session no matter how
    * many consumers (batch audit, codebook export, archive stats) read
    * it. */
  private def s14TrainedCodebooks(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s14TrainedCodebooks", embStamp(s, dir))(
      Derivations.persist(s14Codebooks(s14Subvectors(s, dir))))

  /** s14's trained codebooks as a DRIVER-SIDE value (PqM·PqK = 128 rows
    * × 8 dims — how a consumer ships a stored PQ index); feeds the live
    * staleness monitor's scan-side assignment
    * (`stream/LivePqStaleness`): (m, code, cent, cc). */
  def s14CodebookArray(s: SparkSession, dir: String): Array[(Int, Int, Array[Double], Double)] =
    s14TrainedCodebooks(s, dir).collect().map { r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray, r.getDouble(3))
    }

  /** The STORED side of the PQ staleness report: per-subspace archive
    * occupancy and integer error mass under the trained codebooks —
    * maintained with the index at scale, consumed by the live twin. */
  def s14ArchiveSubspaceStats(s: SparkSession, dir: String): DataFrame = {
    val sub = s14Subvectors(s, dir)
    Quantizer.assign(sub.filter(!s13IsNew(col("vec_id"))), s14TrainedCodebooks(s, dir),
        Quantizer.Codebooks, "m", "dist")
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_arch"),
        sum(col("dist")).cast("long").as("err_arch"))
  }

  /** The shared DuckDB CTE chain of s14 and c13's PQ leg: quantize →
    * per-subspace subvectors → archive seeds → one training step
    * (cent2 = the stale archive-trained codebooks) → full-corpus
    * per-subspace assignment `a1(vec_id, m, code, dist)` under them
    * (and `best`, the code-free projection s14's report reads). */
  private[queries] def s14OracleCtes: String = s"""e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      qz AS (
        SELECT vec_id, list_transform(emb, x -> floor(x * $QuantScale)) AS qv
        FROM e),
      sub AS (
        SELECT vec_id, CAST(t.m AS INT) AS m,
               qv[(CAST(t.m AS INT) * $PqD + 1):(CAST(t.m AS INT) * $PqD + $PqD)] AS sv
        FROM qz, range(0, $PqM) t(m)),
      sub2 AS (
        SELECT vec_id, m, sv, list_dot_product(sv, sv) AS svv FROM sub),
      asub AS (SELECT * FROM sub2 WHERE vec_id % 10 <> 7),
      seeds AS (
        SELECT m, CAST(vec_id AS INT) AS code, sv AS cent, svv AS cc
        FROM asub WHERE vec_id < $PqK),
      d0 AS (
        SELECT v.vec_id, v.m, s.code,
               v.svv - 2 * list_dot_product(v.sv, s.cent) + s.cc AS dist
        FROM asub v JOIN seeds s ON s.m = v.m),
      a0 AS (
        SELECT vec_id, m, code FROM (
          SELECT vec_id, m, code,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
          FROM d0) r WHERE rn = 1),
      cdim AS (
        SELECT a0.m, a0.code, i, floor(sum(sv[i]) / count(*)) AS c
        FROM a0 JOIN sub2 USING (vec_id, m), range(1, ${PqD + 1}) t(i)
        GROUP BY a0.m, a0.code, i),
      cent1 AS (
        SELECT m, code, list(c ORDER BY i) AS cent FROM cdim GROUP BY m, code),
      cent2 AS (
        SELECT m, code, cent, list_dot_product(cent, cent) AS cc FROM cent1),
      d1 AS (
        SELECT v.vec_id, v.m, c.code,
               v.svv - 2 * list_dot_product(v.sv, c.cent) + c.cc AS dist
        FROM sub2 v JOIN cent2 c ON c.m = v.m),
      a1 AS (
        SELECT vec_id, m, code, dist FROM (
          SELECT vec_id, m, code, dist,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
          FROM d1) r WHERE rn = 1),
      best AS (SELECT vec_id, m, dist FROM a1)"""

  /** The c13 PQ-leg refresh chain appended to [[s14OracleCtes]] — the
    * s15 recipe per (m, code): one integer-mean update from the
    * full-corpus assignment a1, empty-code keep rule, full re-assignment
    * `pbest` under the refreshed codebooks. */
  private[queries] def pqRefreshCtes: String = s"""pcd AS (
        SELECT a1.m, a1.code, i, floor(sum(sv[i]) / count(*)) AS c
        FROM a1 JOIN sub2 USING (vec_id, m), range(1, ${PqD + 1}) t(i)
        GROUP BY a1.m, a1.code, i),
      pcent AS (
        SELECT m, code, list(c ORDER BY i) AS cent FROM pcd GROUP BY m, code),
      pref AS (
        SELECT s.m, s.code, coalesce(n.cent, s.cent) AS cent,
               s.cent AS cent_old
        FROM cent2 s LEFT JOIN pcent n USING (m, code)),
      prefx AS (
        SELECT m, code, cent, list_dot_product(cent, cent) AS cc, cent_old
        FROM pref),
      pd2 AS (
        SELECT v.vec_id, v.m, c.code,
               v.svv - 2 * list_dot_product(v.sv, c.cent) + c.cc AS dist
        FROM sub2 v JOIN prefx c ON c.m = v.m),
      pa1 AS (
        SELECT vec_id, m, code, dist FROM (
          SELECT vec_id, m, code, dist,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
          FROM pd2) r WHERE rn = 1),
      pbest AS (SELECT vec_id, m, dist FROM pa1)"""

  val s14PqStaleness = NamedQuery(
    "s14_pq_staleness",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      archIncSplit(Quantizer.assign(s14Subvectors(s, dir), s14TrainedCodebooks(s, dir),
          Quantizer.Codebooks, "vec_id", "m", "dist"), "m", "err")
        .select(col("m"), col("n_arch"), col("n_inc"),
          col("err_arch"), col("err_inc"),
          (col("err_inc") * col("n_arch") - col("err_arch") * col("n_inc"))
            .as("err_shift_x"))
        .orderBy(col("m"))
    },
    Some(s"""WITH $s14OracleCtes,
      per AS (
        SELECT m,
          CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_arch,
          CAST(sum(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_inc,
          CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN dist ELSE 0 END) AS BIGINT) AS err_arch,
          CAST(sum(CASE WHEN vec_id % 10 = 7 THEN dist ELSE 0 END) AS BIGINT) AS err_inc
        FROM best GROUP BY m)
      SELECT m, n_arch, n_inc, err_arch, err_inc,
        err_inc * n_arch - err_arch * n_inc AS err_shift_x
      FROM per ORDER BY m"""),
    doc = "PQ codebook staleness audit: per-subspace codebooks train on " +
      "the archive (vec_id%10<>7) only, all vectors assign one-sided, " +
      "per-subspace cross-multiplied quantization-error shift in exact " +
      "int64 — s13's fine-level sibling (names the subspace drifting " +
      "before s9's recall decays); FULL value oracle")

  // ------------------------------------------------- c13 legs (ivf, pq)
  /** The IVF row of c13's refresh decision: staleness from the
    * full-corpus stale assignment (s13's audit relation, memoized), the
    * refresh benefit from s15's priced retrain (memoized report) —
    * composing the decision costs ~one audit.
    *
    *   staleness_bp  [[RefreshDecision.crossStalenessBp]] over the
    *                 per-cell arch/inc split of the stale assignment
    *   benefit_bp    10⁴·(Σd_before − Σd_after) div Σd_before — the
    *                 fraction of the stale index's distance mass ONE
    *                 warm-start update removes, in bp */
  private[queries] def ivfRefreshLeg(s: SparkSession, dir: String): DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    val per = archIncSplit(s15StaleAssignment(s, dir), "list_id", "d")
    RefreshDecision.rejectInt64Pin(s)
    val st = RefreshDecision.crossStalenessBp(per, "n_arch", "n_inc", "d_arch", "d_inc")
    val ben = s15RefreshReport(s, dir)
      .agg(sum(col("d_before")).as("db"), sum(col("d_after")).as("da"))
      .select(RefreshDecision.benefitBp("db", "da").as("benefit_bp"))
    st.crossJoin(broadcast(ben))
      .select(lit("ivf").as("family"), col("staleness_bp"), col("benefit_bp"))
  }

  /** The full-corpus per-subspace assignment under the STORED (stale,
    * archive-trained) codebooks — memoized + persisted: s17's refresh
    * report, its update step and c13's pq staleness split all read it
    * (the s15StaleAssignment pattern at the fine level). */
  private def s17StaleAssignment(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s17StaleAssignment", embStamp(s, dir))(
      Derivations.persist(Quantizer.assign(s14Subvectors(s, dir), s14TrainedCodebooks(s, dir),
        Quantizer.Codebooks, "vec_id", "m", "code", "dist", "sv")))

  /** PQ warm-start REFRESH report — s15's recipe applied to the fine
    * level, completing the per-family symmetry (every stored model now
    * has audit → priced refresh → decision): ONE floored-integer-mean
    * codebook update per (m, code) from the full-corpus assignment
    * under the STORED codebooks (empty codes keep their stale centroid —
    * the s15 empty-cell rule), full re-assignment, and per-(m, code)
    * occupancy rebalance, squared integer displacement and
    * quantization-error mass before/after.  Scale shape mirrors s15:
    * the persisted subvector relation is the only corpus-sized input
    * (memoized — s14's audit shares it), codebooks and the update are
    * PqM·PqK-row broadcasts, three corpus passes total, zero corpus
    * shuffles. */
  /** The REFRESHED PQ codebooks with their stale predecessors alongside —
    * `(m, code, cent, cc, cent_old, cc_old)`: s15's update recipe at the
    * fine level, empty codes keeping their old centroid.  Extracted from
    * the report builder so c16's serving-model export reads the
    * PARAMETERS; PqM·PqK rows, memoized. */
  private[queries] def s17RefreshedCodebooks(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s17RefreshedCodebooks", embStamp(s, dir)) {
      graft.sentiment.GraftFunctions.register(s)
      Quantizer.warmUpdate(s14TrainedCodebooks(s, dir),
        s17StaleAssignment(s, dir), Quantizer.Codebooks)
    }

  private[queries] def s17PqRefreshReport(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s17PqRefreshReport", embStamp(s, dir)) {
      graft.sentiment.GraftFunctions.register(s)
      val refreshed = s17RefreshedCodebooks(s, dir)
      refreshReport(refreshed, s17StaleAssignment(s, dir),
        Quantizer.assign(s14Subvectors(s, dir), refreshed, Quantizer.Codebooks,
          "m", "code", "dist"),
        Quantizer.Codebooks, "err")
    }

  /** The PQ row of c13's refresh decision: staleness from the memoized
    * stale assignment's arch/inc split, benefit from [[s17PqRefreshReport]]
    * (memoized — composing the decision costs ~one audit). */
  private[queries] def pqRefreshLeg(s: SparkSession, dir: String): DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    val per = archIncSplit(s17StaleAssignment(s, dir), "m", "err")
    RefreshDecision.rejectInt64Pin(s)
    val st = RefreshDecision.crossStalenessBp(per, "n_arch", "n_inc",
      "err_arch", "err_inc")
    val ben = s17PqRefreshReport(s, dir)
      .agg(sum(col("err_before")).as("eb"), sum(col("err_after")).as("ea"))
      .select(RefreshDecision.benefitBp("eb", "ea").as("benefit_bp"))
    st.crossJoin(broadcast(ben))
      .select(lit("pq").as("family"), col("staleness_bp"), col("benefit_bp"))
  }

  val s17PqRefresh = NamedQuery(
    "s17_pq_refresh",
    (s, dir) => s17PqRefreshReport(s, dir),
    Some(s"""WITH $s14OracleCtes,
      $pqRefreshCtes,
      bef AS (
        SELECT m, code, CAST(count(*) AS BIGINT) AS n_before,
               CAST(sum(dist) AS BIGINT) AS err_before
        FROM a1 GROUP BY m, code),
      aft AS (
        SELECT m, code, CAST(count(*) AS BIGINT) AS n_after,
               CAST(sum(dist) AS BIGINT) AS err_after
        FROM pa1 GROUP BY m, code)
      SELECT c.m, c.code,
        CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
        CAST(coalesce(n_after, 0) AS BIGINT) AS n_after,
        CAST(list_dot_product(cent_old, cent_old)
             - 2 * list_dot_product(cent_old, cent)
             + list_dot_product(cent, cent) AS BIGINT) AS disp,
        CAST(coalesce(err_before, 0) AS BIGINT) AS err_before,
        CAST(coalesce(err_after, 0) AS BIGINT) AS err_after
      FROM prefx c LEFT JOIN bef USING (m, code) LEFT JOIN aft USING (m, code)
      ORDER BY c.m, c.code"""),
    doc = "PQ codebook warm-start refresh: one integer-mean update per " +
      "(m, code) over the full corpus starting from the stored " +
      "archive-trained codebooks — per-code occupancy rebalance, " +
      "squared centroid displacement and quantization-error change " +
      "(what retraining the fine level would buy; s15's recipe applied " +
      "to s14's model — every stored model family now has audit + " +
      "priced refresh + decision); FULL value oracle via the shared CTEs")

  // ---------------------------------------------------------------- s16
  /** Quantization grid of the RADIUS-COMPLETE pair source: coarser than
    * this and the ±√dim floor-error term (16 at dim 64) dominates the
    * triangle bound; 512 keeps every distance ≤ 2²⁶, exact in a double
    * and in DuckDB.  Vectors are NORMALIZED before quantization (the
    * completeness theorem lives on the unit sphere, where a cosine
    * threshold IS a chord-length bound — un-normalized embeddings give
    * no metric bound at all). */
  private[graft] val RadiusQuantScale = 512

  /** The triangle-inequality completeness margin `2·Dq` for a round-4
    * cosine threshold `tauBp/10000`, in [[RadiusQuantScale]] grid units.
    *
    * Derivation (every step an over-approximation, so completeness only
    * gains): round-4 cosine ≥ τ ⟹ true cosine ≥ τ − 10⁻⁴ ⟹ the
    * normalized chord ‖û−v̂‖ ≤ D = √(2(1−τ+10⁻⁴)); per-coordinate floor
    * error < 1 bounds ‖qû − Q·û‖ ≤ √dim = 8, so the quantized chord is
    * ≤ Q·D + 16; +1 absorbs float-normalization ulps.  If u's best cell
    * is c_u and v's is c_v then ‖qû−c_v‖ ≤ Dq + ‖qv̂−c_v‖ ≤
    * Dq + ‖qv̂−c_u‖ ≤ 2·Dq + ‖qû−c_u‖ — so assigning every vector to
    * ALL cells within `√dbest + 2Dq` guarantees any τ-pair shares a
    * cell.  The bound is tight in the worst case, which is the theorem
    * s16 measures: at τ = 0.4, 2Dq = 1156 EXCEEDS the diameter of the
    * whole quantized sphere (2Q + 16 = 1040), so a provably-complete
    * ball assignment probes EVERY cell on ANY corpus — the residual
    * ~900 bp the bucketed tier leaves at τ = 0.4 is geometry, not
    * tuning (the round-11 sweep's frontier, now closed; SCALING.md). */
  private[graft] def radiusTwoDq(tauBp: Int): Int = {
    require(tauBp > 0 && tauBp < 10000, s"tauBp=$tauBp outside (0, 10000)")
    val tau = (tauBp - 1).toDouble / 10000.0
    val d = math.sqrt(2.0 * (1.0 - tau))
    2 * (math.ceil(RadiusQuantScale * d + 16.0).toInt + 1)
  }

  /** The thresholds s16 certifies: the engine's own near-dup threshold
    * (0.4), the borderline band's ceiling (0.5), and the SemDeDup-style
    * high-τ regimes where ball completeness can be selective. */
  private val RadiusCertTaus = Seq(4000, 5000, 7000, 9000, 9500)

  /** The normalized quantized corpus `(vec_id, emb, nrm, qn, vv)` on the
    * [[RadiusQuantScale]] grid, persisted, from a `(vec_id, emb, nrm)`
    * relation: [[Quantizer.guarded]] first (a dirty vector fails the
    * action), then zero vectors are dropped (no direction ⟹ no cosine). */
  private def radiusGridOf(corpus: DataFrame): DataFrame =
    Derivations.persist(Quantizer.guarded(corpus)
      .filter(col("nrm") > 0)
      .withColumn("qn", transform(col("emb"),
        x => floor(x / col("nrm") * RadiusQuantScale)).cast("array<double>"))
      .withColumn("vv", dot(col("qn"), col("qn"))))

  /** [[radiusGridOf]] over `embeddings`, memoized (the cert query and the
    * pair source share one materialization per session). */
  private def s16NormQuantized(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s16NormQuantized", embStamp(s, dir)) {
      graft.sentiment.GraftFunctions.register(s)
      radiusGridOf(Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
        .withColumn("nrm", norm(col("emb"))))
    }

  /** Integer k-means cells over a normalized-quantized relation
    * `(vec_id, qn, vv)` — the bucketed tier's trainer on the radius
    * grid (stride seeds, ONE floored-integer-mean update). */
  private def s16Cells(e: DataFrame, cells: Int, seedStride: Long): DataFrame =
    Quantizer.update(Quantizer.assign(e,
      Quantizer.strideSeeds(e, Quantizer.RadiusCells, cells, seedStride),
      Quantizer.RadiusCells, "list_id", "qn"), Quantizer.RadiusCells)

  /** The ASSIGNMENT stage of [[radiusCompleteEmbeddingPairsOf]] — split
    * out so RadiusCompleteSpec can measure assignment mass (the cost
    * driver the s16 certificate reports) without the pair join.  Returns
    * `(am(vec_id, list_id), e)` where `e` is the persisted normalized
    * quantized relation the verify joins back to. */
  private[queries] def radiusAssignmentsOf(
      s: SparkSession,
      corpus: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
      tauBp: Int,
      cells: Int,
      seedStride: Long): (DataFrame, DataFrame) = {
    graft.sentiment.GraftFunctions.register(s)
    val e = radiusGridOf(corpus.toDF("vec_id", "emb", "nrm"))
    (radiusAssignFromGrid(e, tauBp, cells, seedStride), e)
  }

  /** Trained s16 cells over the memoized grid, themselves memoized +
    * persisted per (session, dir) — so the guarded flip, the radius-mass
    * certificate and s16's full certificate share ONE cell training pass
    * per session (the broadcast-sized relation is cheap, but recomputing
    * it per consumer made the sharing comment a lie — ADVICE r13). */
  private def s16TrainedCells(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "s16TrainedCells", embStamp(s, dir)) {
      Derivations.persist(s16Cells(
        s16NormQuantized(s, dir).select(col("vec_id"), col("qn"), col("vv")),
        EmbedCells, 1L))
    }

  /** The radius ball assignment over a prepared normalized-quantized
    * relation — split out so the dir-plumbed source can feed the
    * MEMOIZED [[s16NormQuantized]] grid (one materialization shared
    * with the certificate/guard) instead of rebuilding it. */
  private def radiusAssignFromGrid(e: DataFrame, tauBp: Int,
      cells: Int, seedStride: Long,
      centsOverride: Option[DataFrame] = None): DataFrame = {
    val cents = centsOverride.getOrElse(s16Cells(e, cells, seedStride))
    radiusBall(e, cents, struct(col("dist"), col("list_id")), radiusArm(tauBp))
      .select(col("vec_id"),
        explode(filter(col("ds"), t => t.getField("dist") <= col("thr"))).as("t"))
      .select(col("vec_id"), col("t.list_id").as("list_id"))
  }

  /** s16's triangle-bound ball over a normalized-quantized grid
    * `(vec_id, qn, vv)` and cells `cents`, the one statement of the
    * radius assignment, its mass certificate and s16: per vector `dbest`
    * (the integer squared distance to its nearest cell) and `ds` (`elem`
    * — a Column over `dist` and `list_id` — collected over every cell),
    * then the τ arm `tau` as column `t` (a struct with field `two_dq`, or
    * a generator of them) and the ball `thr = (⌊√dbest⌋ + 1 + 2Dq)²`:
    * a cell is in the ball iff its `dist ≤ thr`.  The +1 makes the
    * integer sqrt an over-approximation; the square is an explicit
    * multiply (Math.pow is not correctly rounded and a 1-ulp-under
    * result would drop an equal-distance cell). */
  private def radiusBall(e: DataFrame, cents: DataFrame, elem: Column,
      tau: Column): DataFrame = {
    val r = floor(sqrt(col("dbest"))) + lit(1) + col("t.two_dq")
    e.crossJoin(broadcast(cents))
      .withColumn("dist", col("vv") - lit(2) * dot(col("qn"), col("cent")) + col("cc"))
      .groupBy(col("vec_id"))
      .agg(min(col("dist")).as("dbest"), collect_list(elem).as("ds"))
      .select(col("vec_id"), col("dbest"), col("ds"), tau.as("t"))
      .withColumn("thr", r * r)
  }

  /** The single-τ arm of [[radiusBall]]. */
  private def radiusArm(tauBp: Int): Column = struct(lit(radiusTwoDq(tauBp)).as("two_dq"))

  /** PROVABLY-COMPLETE embedding near-dup pair source: every vector is
    * assigned to ALL cells within `√dbest + 2Dq(τ)` of it (the
    * [[radiusTwoDq]] triangle bound), candidates are pairs sharing a
    * cell, and every candidate re-verifies with the round-4 exact
    * cosine — so recall is 10000 bp BY THEOREM, not by measurement
    * (the spec still measures it: RadiusCompleteSpec).  The price is
    * the assignment mass, which is exactly the corpus's clusterability
    * at τ: selective when inter-cluster separation exceeds the 2Dq
    * ball (planted fixture at τ = 0.95: 1× candidates), all-pairs when
    * it does not (ANY corpus at τ = 0.4, where 2Dq exceeds the sphere
    * diameter) — [[s16RadiusCert]] reports that mass per τ WITHOUT
    * running the quadratic join, which is how a deployment decides. */
  /** The dup-graph kernel's cosine threshold in bp (the d5/d7 `≥ 0.4`),
    * as the radius source consumes it. */
  private[queries] val EmbedPairTauBp = 4000

  /** Default cap of the radius-mass guard: allow the conf-selected flip
    * to the radius source only when provable completeness costs at most
    * half the all-pairs probe mass (cell_mass_bp ≤ 5000) — above that
    * the triangle ball is doing less than half the pruning and the
    * exact kernel is the honest posture.  At τ = 4000 the s16 theorem
    * makes the mass 10000 on ANY corpus, so the default flip fails by
    * design; the cap exists for the higher-τ regimes where the ball IS
    * selective (SCALING.md's s16 curve). */
  private[queries] val RadiusMaxCellMassBp = 5000L

  /** Dir-plumbed [[radiusCompleteEmbeddingPairsOf]] at the dup-graph
    * kernel's τ — the third `spark.graft.embed.pairs` source.  Reads the
    * MEMOIZED [[s16NormQuantized]] grid, so the guarded flip and its
    * mass certificate share ONE corpus materialization and ONE cell
    * training pass per session (round-13 review finding: the first
    * wiring rebuilt both). */
  def radiusCompleteEmbeddingPairs(s: SparkSession, dir: String): DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    val e = s16NormQuantized(s, dir)
    radiusPairsFrom(e,
      radiusAssignFromGrid(e, EmbedPairTauBp, EmbedCells, 1L,
        centsOverride = Some(s16TrainedCells(s, dir))),
      EmbedPairTauBp)
  }

  /** The 1-row radius-mass certificate at one τ — s16's meter scoped to
    * the guard's question, memoized + persisted per (session, dir, τ):
    * `cell_mass_bp = (Σ per-vector cells within the triangle bound) ·
    * 10⁴ div (n_vec · cells)`.  Θ(n·k), never the pair join. */
  private def radiusMassCert(s: SparkSession, dir: String, tauBp: Int): DataFrame =
    Derivations.memo(s, dir, "radiusMassCert", embStamp(s, dir), tauBp) {
      graft.sentiment.GraftFunctions.register(s)
      val e = s16NormQuantized(s, dir).select(col("vec_id"), col("qn"), col("vv"))
      Derivations.persist(radiusBall(e, s16TrainedCells(s, dir), col("dist"), radiusArm(tauBp))
        .select(size(filter(col("ds"), d => d <= col("thr")))
          .cast("long").as("n_probe"))
        .agg(expr(s"(sum(n_probe) * 10000) div (count(1) * $EmbedCells)")
          .as("cell_mass_bp")))
    }

  def radiusCompleteEmbeddingPairsOf(
      s: SparkSession,
      corpus: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
      tauBp: Int,
      cells: Int = EmbedCells,
      seedStride: Long = 1L): DataFrame = {
    val (am, e) = radiusAssignmentsOf(s, corpus, tauBp, cells, seedStride)
    radiusPairsFrom(e, am, tauBp)
  }

  /** Shared-cell candidates + exact round-4 cosine verify over a radius
    * assignment — the pair stage both radius entry points share. */
  private def radiusPairsFrom(e: DataFrame, am: DataFrame, tauBp: Int): DataFrame = {
    val cand = am.select(col("list_id"), col("vec_id").as("vec_a"))
      .join(am.select(col("list_id"), col("vec_id").as("vec_b")), Seq("list_id"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    val raw = e.select(col("vec_id"), col("emb"), col("nrm"))
    cand
      .join(raw.select(col("vec_id").as("vec_a"),
        col("emb").as("ea"), col("nrm").as("na")), "vec_a")
      .join(raw.select(col("vec_id").as("vec_b"),
        col("emb").as("eb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cosine", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= lit(tauBp.toDouble / 10000.0))
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** RADIUS-COMPLETENESS certificate — the round-11 verdict's "per-cell
    * radius bound from the d15 certificate itself", answering the
    * question the probe/boundary sweep could not: what multi-assignment
    * mass does PROVABLE completeness force on THIS corpus, per cosine
    * threshold?  For each τ the query counts, per vector, the cells
    * within the [[radiusTwoDq]] triangle bound — WITHOUT running the
    * (possibly quadratic) pair join, so the certificate is Θ(n·k) at
    * any τ and a deployment reads the answer before paying for it.
    *
    *   cell_mass_bp = 10000 ⟺ every vector must probe EVERY cell ⟺
    *   a complete ball assignment degenerates to all-pairs at this τ.
    *
    * On the driver corpus at τ = 0.4 the answer is 10000 on ANY corpus
    * (2Dq = 1156 > the sphere diameter 1040 — the theorem), which is
    * the formal close of the bucketed tier's residual-recall frontier:
    * the missing ~900 bp at τ = 0.4 cannot be bought by any
    * triangle-safe probing policy, only measured (d15) and guarded
    * (the recall floor).  At high τ the mass falls exactly where the
    * corpus clusters — the regime where [[radiusCompleteEmbeddingPairsOf]]
    * is both complete and selective (RadiusCompleteSpec measures 1×
    * candidates on the planted fixture at τ = 0.95).
    *
    * Scale shape: ONE pruned corpus scan into the memoized normalized
    * grid, training + assignment are broadcast crossJoins (the corpus is
    * scanned, never shuffled), the per-vector distance set collapses
    * map-side (bounded by the CELL count), τ arms explode from a 5-row
    * literal array, and the report is a 5-row aggregate.  All arithmetic
    * exact int64-in-double; FULL value oracle. */
  val s16RadiusCert = NamedQuery(
    "s16_radius_cert",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      val e = s16NormQuantized(s, dir).select(col("vec_id"), col("qn"), col("vv"))
      val taus = array(RadiusCertTaus.map(t =>
        struct(lit(t).as("tau_bp"), lit(radiusTwoDq(t)).as("two_dq"))): _*)
      radiusBall(e, s16TrainedCells(s, dir), col("dist"), explode(taus))
        .groupBy(col("t.tau_bp").as("tau_bp"), col("t.two_dq").as("two_dq"))
        .agg(count(lit(1)).as("n_vec"),
          sum(size(filter(col("ds"), x => x <= col("thr")))).cast("long").as("n_assign"))
        .select(col("tau_bp"), col("two_dq"), col("n_vec"), col("n_assign"),
          expr(s"(n_assign * 10000) div (n_vec * $EmbedCells)").as("cell_mass_bp"))
        .orderBy(col("tau_bp"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      nz AS (
        SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm
        FROM e WHERE list_dot_product(emb, emb) > 0),
      qz AS (
        SELECT vec_id,
               list_transform(emb, x -> floor(x / nrm * $RadiusQuantScale)) AS qn
        FROM nz),
      qz2 AS (SELECT vec_id, qn, list_dot_product(qn, qn) AS vv FROM qz),
      seeds AS (
        SELECT CAST(vec_id AS INT) AS list_id, qn AS cent, vv AS cc
        FROM qz2 WHERE vec_id < $EmbedCells),
      d0 AS (
        SELECT v.vec_id, s.list_id,
               v.vv - 2 * list_dot_product(v.qn, s.cent) + s.cc AS dist
        FROM qz2 v, seeds s),
      a0 AS (
        SELECT vec_id, list_id FROM (
          SELECT vec_id, list_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM d0) r WHERE rn = 1),
      cdim AS (
        SELECT a0.list_id, i, floor(sum(qn[i]) / count(*)) AS c
        FROM a0 JOIN qz2 USING (vec_id), range(1, 65) t(i)
        GROUP BY a0.list_id, i),
      cent1 AS (
        SELECT list_id, list(c ORDER BY i) AS cent FROM cdim GROUP BY list_id),
      cent2 AS (
        SELECT list_id, cent, list_dot_product(cent, cent) AS cc FROM cent1),
      d1 AS (
        SELECT v.vec_id, c.list_id,
               v.vv - 2 * list_dot_product(v.qn, c.cent) + c.cc AS dist
        FROM qz2 v, cent2 c),
      pv AS (SELECT vec_id, min(dist) AS dbest FROM d1 GROUP BY vec_id),
      taus(tau_bp, two_dq) AS (VALUES ${RadiusCertTaus.map(t =>
        s"(${t}, ${radiusTwoDq(t)})").mkString(", ")}),
      asn AS (
        SELECT t.tau_bp, t.two_dq, count(*) AS n_assign
        FROM d1 JOIN pv USING (vec_id) CROSS JOIN taus t
        WHERE d1.dist <= (floor(sqrt(pv.dbest)) + 1 + t.two_dq)
                       * (floor(sqrt(pv.dbest)) + 1 + t.two_dq)
        GROUP BY t.tau_bp, t.two_dq)
      SELECT CAST(tau_bp AS INT) AS tau_bp, CAST(two_dq AS INT) AS two_dq,
        (SELECT count(*) FROM qz2) AS n_vec,
        CAST(n_assign AS BIGINT) AS n_assign,
        CAST(n_assign * 10000 // ((SELECT count(*) FROM qz2) * $EmbedCells)
          AS BIGINT) AS cell_mass_bp
      FROM asn ORDER BY tau_bp"""),
    doc = "radius-completeness certificate: per cosine threshold, the " +
      "multi-assignment mass a triangle-inequality-COMPLETE cell " +
      "assignment forces on this corpus (cell_mass_bp = 10000 means " +
      "provable completeness degenerates to all-pairs — the formal " +
      "close of the tau=0.4 recall frontier); Θ(n·k), FULL value oracle")

  // ---------------------------------------------------------------- s18
  /** SERVING through the EXECUTED model — the consumption loop c16 left
    * open: c16 emits the next-epoch IVF parameters its verdict selects
    * (s15's refreshed centroids on "refresh", s13's stored ones on
    * "keep"), and this query ANSWERS RETRIEVAL with them — s4's probe
    * discipline (integer-L2 coarse argmin, nprobe = [[IvfProbe]],
    * exact-cosine top-5 re-rank) against whichever index the decision
    * shipped, closing the stored-model lifecycle end to end:
    * train → serve → audit → price → decide → execute → SERVE AGAIN.
    *
    * Scale shape: the verdict is c13's 1-row IVF leg riding the memoized
    * audit relations (deciding costs ~one audit per session); the
    * serving index is the memoized ≤ k-row s15 relation with the 1-row
    * broadcast verdict picking the parameter set DECLARATIVELY (a
    * `when` over the broadcast — no driver-side collect decides the
    * plan, and the corpus pays ONE argmin pass regardless of which side
    * wins).  ONE corpus scan (emb + quantized view, persisted for the
    * assignment, the query side and the candidate re-rank), one
    * map-side broadcast argmin ([[Quantizer.assign]] — no window over
    * corpus-sized pairs), candidate re-rank confined to the probed
    * cells via a broadcast hash join.  All index arithmetic is exact
    * int64 on the [[QuantScale]] grid; only the final cosine touches
    * floats (s1's oracle-proven round-4 form).  FULL value oracle: the
    * shared s13/s15 CTE chains re-derive both indexes, c16's verdict
    * CASE picks the serving one, and the s4 probe chain replays the
    * search — bit for bit, verdict column included. */
  val s18RefreshedServing = NamedQuery(
    "s18_refreshed_serving",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val (minSt, minBen) = RefreshDecision.thresholds(s)
      val verdict = RefreshDecision.decide(ivfRefreshLeg(s, dir), minSt, minBen)
        .select(col("verdict"))
      // c16's IVF hand-off: refreshed vs stored parameters, picked by
      // the broadcast verdict ([[pickByVerdict]]).  Persisted
      // (≤ IvfLists rows) so the decision subtree prices once for its
      // two consumers (corpus assignment + query-side probe).
      val servingIdx = Derivations.persist(pickByVerdict(
        s15RefreshedCentroids(s, dir), verdict, "verdict", Seq("list_id")))
      val e = servingEmbGrid(s, dir)
      val lists = postingListsOf(e, servingIdx)
      // query-side coarse probe under the SAME packed broadcast the
      // posting-list assignment rides; the 1-row verdict rides the packed
      // row, so servingIdx is broadcast once
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          norm(col("emb")).as("qn"), col("qv").as("qqv"))
      val probed = Quantizer.probe(q, "qqv", servingIdx, IvfProbe, Some("verdict"))
        .select(col("q_id"), col("qe"), col("qn"), col("verdict"),
          explode(col("top")).as("t"))
        .select(col("q_id"), col("qe"), col("qn"), col("t.id").as("list_id"),
          col("verdict"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      lists
        .withColumn("nrm", norm(col("emb")))
        .join(broadcast(probed), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine", round(dot(col("qe"), col("emb")) / (col("qn") * col("nrm")), 4))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("vec_id").as("nn_id"),
          col("cosine"), col("verdict"))
        .orderBy(col("q_id"), col("rn"))
    },
    Some(s"""WITH $s13OracleCtes,
      $s15RefreshCtes,
      ${RefreshDecision.totAftCtes("m", "m2")},
      ${RefreshDecision.vdecCte},
      serv AS (
        SELECT c.list_id,
          CASE WHEN v.verdict = 'refresh' THEN c.cent ELSE c.cent_old END AS cent
        FROM cent3x c, vdec v),
      servx AS (
        SELECT list_id, cent, list_dot_product(cent, cent) AS cc FROM serv),
      ds AS (
        SELECT v.vec_id, c.list_id,
               v.vv - 2 * list_dot_product(v.qv, c.cent) + c.cc AS dist
        FROM qz2 v, servx c),
      ms AS (
        SELECT vec_id, list_id FROM (
          SELECT vec_id, list_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM ds) r WHERE rn = 1),
      qs AS (
        SELECT z.vec_id AS q_id, e.emb AS qe, z.qv AS qqv, z.vv AS qvv
        FROM qz2 z JOIN e ON e.vec_id = z.vec_id WHERE z.vec_id < 5),
      pd AS (
        SELECT q_id, c.list_id,
               qvv - 2 * list_dot_product(qqv, c.cent) + c.cc AS dist
        FROM qs, servx c),
      probe AS (
        SELECT q_id, list_id FROM (
          SELECT q_id, list_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY dist, list_id) AS rn
          FROM pd) r WHERE rn <= $IvfProbe),
      sims AS (
        SELECT p.q_id, ms.vec_id AS nn_id,
               round(list_cosine_similarity(q.qe, e2.emb), 4) AS cosine
        FROM probe p
        JOIN ms USING (list_id)
        JOIN qs q ON q.q_id = p.q_id
        JOIN e e2 ON e2.vec_id = ms.vec_id
        WHERE ms.vec_id <> p.q_id)
      SELECT q_id, CAST(rn AS INTEGER) AS rn, nn_id, cosine,
        (SELECT verdict FROM vdec) AS verdict
      FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, nn_id) AS rn
        FROM sims) t
      WHERE rn <= 5 ORDER BY q_id, rn"""),
    doc = "serving through the executed model: s4's IVF probe (integer-L2 " +
      "coarse argmin, nprobe=3, exact-cosine top-5) answered against the " +
      "index c16's verdict shipped — s15's refreshed centroids on " +
      "'refresh', s13's stored ones on 'keep' — closing the stored-model " +
      "lifecycle train/serve/audit/price/decide/execute/serve-again; " +
      "FULL value oracle via the shared s13/s15 chains + the c16 verdict CASE")

  /** The c16 hand-off rule stated ONCE (review r14 — it was restated at
    * five sites): broadcast a 1-row verdict relation onto a parameter
    * relation carrying `(cent, cc)` next to their stale predecessors
    * `(cent_old, cc_old)` and pick per row — refreshed parameters on
    * "refresh", stored ones on "keep".  Shared by the s18/s19/s20
    * serving relations and the driver-side export. */
  private[graft] def pickByVerdict(params: DataFrame, verdict: DataFrame,
      vCol: String, keys: Seq[String]): DataFrame =
    params.crossJoin(broadcast(verdict))
      .select(keys.map(col) ++ Seq(
        when(col(vCol) === "refresh", col("cent"))
          .otherwise(col("cent_old")).as("cent"),
        when(col(vCol) === "refresh", col("cc"))
          .otherwise(col("cc_old")).as("cc"),
        col(vCol)): _*)

  /** Emb-carrying quantized view of an embeddings-shaped relation —
    * `(vec_id, emb, qv, vv)` on the s4 grid ([[Quantizer.grid]], so a
    * dirty vector fails the action).  The corpus view of s4, s7, d11,
    * s13/s14 and the serving queries, and of the live twin's postings. */
  private[graft] def embGridOf(corpus: DataFrame): DataFrame =
    Quantizer.grid(corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb")))

  /** The serving queries' ONE corpus scan, memoized + persisted (the
    * memoized s13 relation deliberately drops emb, and the final cosine
    * needs it; the relation is threshold-independent, so repeated s18
    * invocations in one session share it — review r14). */
  private[graft] def servingEmbGrid(s: SparkSession, dir: String): DataFrame =
    Derivations.memo(s, dir, "servingEmbGrid", embStamp(s, dir)) {
      graft.sentiment.GraftFunctions.register(s)
      Derivations.persist(embGridOf(Tables.embeddings(s, dir)))
    }

  /** Broadcast-argmin posting assignment of an emb+grid relation against
    * a `(list_id, cent, cc)` index — THE serving assignment, shared by
    * s18's batch lists and the live twin's static postings
    * ([[graft.stream.LiveServing.postingsOf]]), so live ≡ batch holds by
    * construction, not by copy (review r14). */
  private[graft] def postingListsOf(e: DataFrame, idx: DataFrame): DataFrame =
    Quantizer.assign(e, idx, Quantizer.Cells, "vec_id", "list_id", "emb")

  /** The SERVING index as a DRIVER-SIDE value — the c16 IVF hand-off as
    * a deployment loads it (the s13IndexArray pattern): the c13 IVF
    * verdict under the session thresholds plus the ≤ k-row index that
    * verdict selects, via the same [[pickByVerdict]] rule the batch
    * queries serve through.  Feeds the live serving twin
    * ([[graft.stream.LiveServing]], T22) — the collect ships a
    * serving-model-sized value, never the corpus. */
  def servingIndexExport(s: SparkSession, dir: String)
      : (String, Array[(Int, Array[Double], Double)]) = {
    graft.sentiment.GraftFunctions.register(s)
    val (minSt, minBen) = RefreshDecision.thresholds(s)
    val verdict = RefreshDecision.decide(ivfRefreshLeg(s, dir), minSt, minBen)
      .select(col("verdict"))
    val rows = pickByVerdict(s15RefreshedCentroids(s, dir), verdict,
      "verdict", Seq("list_id")).collect()
    require(rows.nonEmpty, "graft: serving-index export found no stored index")
    (rows.head.getAs[String]("verdict"),
      rows.map(r => (r.getAs[Number]("list_id").intValue(),
        r.getAs[scala.collection.Seq[Double]]("cent").toArray,
        r.getAs[Double]("cc"))))
  }

  // ---------------------------------------------------------------- s19
  /** ADC SEARCH under the EXECUTED codebooks — s18's serve-again step
    * for the PQ family: c16 ships the per-(m, code) parameters its
    * verdict selects (s17's refreshed codebooks on "refresh", s14's
    * stored ones on "keep"); this query answers top-k retrieval with
    * them by Asymmetric Distance Computation — the corpus encodes to
    * [[PqM]] codes under the SERVING codebooks, each query builds its
    * 5·PqM·PqK-entry distance table against the same serving centroids,
    * and a candidate's approximate distance is the Σ over subspaces of
    * table lookups (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 — the standard serving path for a PQ
    * index).
    *
    * Everything stays on the integer grid — ADC distances are exact
    * int64 (unlike s18's final float cosine), so the WHOLE query
    * value-oracles with no float anywhere.  Scale shape: the verdict is
    * c13's 1-row PQ leg over the memoized audit relations; the serving
    * codebooks are the memoized PqM·PqK-row s17 relation with the 1-row
    * broadcast verdict picking the parameter set declaratively; corpus
    * encoding is ONE broadcast argmin pass over the memoized subvector
    * relation ([[Quantizer.assign]] — no shuffle of candidate pairs); the
    * distance table is a ≤ 640-row broadcast; the ADC sum is ONE
    * map-side-combined (q_id, vec_id) aggregate — shuffle volume
    * |queries|·|corpus| rows of three longs, the same linear-in-corpus
    * bound as the s1 baseline, and at a real deployment the IVF coarse
    * probe (s18) cuts it to the probed cells first (IVF-ADC).  FULL
    * value oracle via the shared s14/s17 chains + the c16 verdict
    * CASE. */
  val s19RefreshedAdc = NamedQuery(
    "s19_refreshed_adc",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val (minSt, minBen) = RefreshDecision.thresholds(s)
      val verdict = RefreshDecision.decide(pqRefreshLeg(s, dir), minSt, minBen)
        .select(col("verdict"))
      // c16's PQ hand-off: refreshed vs stored codebooks, picked by the
      // broadcast verdict ([[pickByVerdict]]); persisted (PqM·PqK rows)
      // so the decision subtree prices once for its two consumers
      // (corpus encoding + the query-side distance tables)
      val serving = Derivations.persist(pickByVerdict(
        s17RefreshedCodebooks(s, dir), verdict, "verdict", Seq("m", "code")))
      val sub = s14Subvectors(s, dir)
      val codes = Quantizer.assign(sub, serving, Quantizer.Codebooks, "vec_id", "m", "code")
      val dt = sub.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("m"), col("sv"), col("svv"))
        .join(broadcast(serving), Seq("m"))
        .select(col("q_id"), col("m"), col("code"),
          (col("svv") - lit(2) * dot(col("sv"), col("cent")) + col("cc"))
            .as("qdist"),
          col("verdict"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("nn_id"))
      codes.join(broadcast(dt), Seq("m", "code"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("qdist")).cast("long").as("adc"),
          first(col("verdict")).as("verdict"))
        .select(col("q_id"), col("vec_id").as("nn_id"), col("adc"), col("verdict"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("nn_id"), col("adc"), col("verdict"))
        .orderBy(col("q_id"), col("rn"))
    },
    Some(s"""WITH $s14OracleCtes,
      $pqRefreshCtes,
      ${RefreshDecision.totAftCtes("best", "pbest")},
      ${RefreshDecision.vdecCte},
      pserv AS (
        SELECT c.m, c.code,
          CASE WHEN v.verdict = 'refresh' THEN c.cent ELSE c.cent_old END AS cent,
          v.verdict
        FROM prefx c, vdec v),
      pservx AS (
        SELECT m, code, cent, list_dot_product(cent, cent) AS cc, verdict
        FROM pserv),
      sd AS (
        SELECT v.vec_id, v.m, c.code,
               v.svv - 2 * list_dot_product(v.sv, c.cent) + c.cc AS dist
        FROM sub2 v JOIN pservx c ON c.m = v.m),
      scodes AS (
        SELECT vec_id, m, code FROM (
          SELECT vec_id, m, code,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
          FROM sd) r WHERE rn = 1),
      qsub AS (SELECT vec_id AS q_id, m, sv, svv FROM sub2 WHERE vec_id < 5),
      dt AS (
        SELECT q.q_id, c.m, c.code,
               q.svv - 2 * list_dot_product(q.sv, c.cent) + c.cc AS qdist,
               c.verdict
        FROM qsub q JOIN pservx c ON c.m = q.m),
      adcs AS (
        SELECT d.q_id, s.vec_id AS nn_id,
               CAST(sum(d.qdist) AS BIGINT) AS adc,
               min(d.verdict) AS verdict
        FROM scodes s JOIN dt d ON d.m = s.m AND d.code = s.code
        WHERE s.vec_id <> d.q_id
        GROUP BY d.q_id, s.vec_id)
      SELECT q_id, CAST(rn AS INTEGER) AS rn, nn_id, adc, verdict FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY adc, nn_id) AS rn
        FROM adcs) t
      WHERE rn <= 5 ORDER BY q_id, rn"""),
    doc = "ADC search under the executed codebooks: the corpus encodes to " +
      "PqM codes under the codebooks c16's verdict shipped (s17's " +
      "refreshed on 'refresh', s14's stored on 'keep'), each query " +
      "builds its distance table against the same serving centroids, and " +
      "candidates rank by the exact-int64 sum of table lookups (Jegou et " +
      "al. 2011's asymmetric distance) — the PQ family's serve-again " +
      "step, no float anywhere; FULL value oracle via the shared s14/s17 " +
      "chains + the c16 verdict CASE")

  // ---------------------------------------------------------------- s20
  /** IVF-ADC under BOTH executed models — the composed production
    * serving path (FAISS's IndexIVFPQ search, Jégou et al. 2011 §IV):
    * the coarse probe restricts candidates to the query's nprobe cells
    * of the verdict-picked IVF index (s18's step), and ADC under the
    * verdict-picked PQ codebooks ranks ONLY those candidates (s19's
    * step scoped to the probed posting lists) — each family serving
    * through whatever its own c13 verdict shipped.
    *
    * The corpus side builds the IVFPQ POSTING-LIST LAYOUT in one
    * lineage, never joining two corpus relations: the memoized
    * quantized corpus argmins against the broadcast serving index
    * (cells), then the SAME relation — still carrying its cell —
    * explodes into subvectors and argmins against the broadcast serving
    * codebooks (codes), so `(vec_id, list_id, m, code)` materializes
    * exactly the way a PQ index stores codes INSIDE posting lists.
    * Candidates then come from a broadcast join on list_id and the ADC
    * sum is one map-side-combined aggregate — shuffle volume
    * |queries|·(|corpus|·nprobe/k) rows, the coarse filter's whole
    * point (s19 pays |queries|·|corpus|).  Exact int64 throughout (no
    * float anywhere, like s19).  FULL value oracle: each family's
    * chain re-derives its index + verdict in its own WITH-scoped
    * subquery (the c16 discipline), the full-vector coarse argmin
    * replays exactly (subspace sums decompose the FAISS metric
    * losslessly on the integer grid), and the ADC chain replays s19's. */
  val s20IvfPqServing = NamedQuery(
    "s20_ivfpq_serving",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val (minSt, minBen) = RefreshDecision.thresholds(s)
      val iv = RefreshDecision.decide(ivfRefreshLeg(s, dir), minSt, minBen)
        .select(col("verdict").as("ivf_verdict"))
      val pv = RefreshDecision.decide(pqRefreshLeg(s, dir), minSt, minBen)
        .select(col("verdict").as("pq_verdict"))
      val servIdx = Derivations.persist(pickByVerdict(
        s15RefreshedCentroids(s, dir), iv, "ivf_verdict", Seq("list_id")))
      val servBooks = Derivations.persist(pickByVerdict(
        s17RefreshedCodebooks(s, dir), pv, "pq_verdict", Seq("m", "code")))
      val e = s13Quantized(s, dir)
      // posting-list layout in ONE lineage: cell argmin, then — still
      // carrying the cell — subvector explode + code argmin
      val cells = Quantizer.assign(e, servIdx, Quantizer.Cells,
        "vec_id", "list_id", "qv")
      val codes = Quantizer.assign(Quantizer.subvectors(cells, "list_id"),
        servBooks, Quantizer.Codebooks, "vec_id", "m", "code", "list_id")
      // query side: probe cells off the quantized relation (under the same
      // packed broadcast the cell assignment rides, verdict carried — the
      // s18 probe), distance tables off the memoized subvector relation
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("qv").as("qqv"))
      val probe = Quantizer.probe(q, "qqv", servIdx, IvfProbe, Some("ivf_verdict"))
        .select(col("q_id"), col("ivf_verdict"), explode(col("top")).as("t"))
        .select(col("q_id"), col("t.id").as("list_id"), col("ivf_verdict"))
      val dt = s14Subvectors(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("m"), col("sv"), col("svv"))
        .join(broadcast(servBooks), Seq("m"))
        .select(col("q_id"), col("m"), col("code"),
          (col("svv") - lit(2) * dot(col("sv"), col("cent")) + col("cc"))
            .as("qdist"),
          col("pq_verdict"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("nn_id"))
      codes.join(broadcast(probe), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .join(broadcast(dt), Seq("q_id", "m", "code"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("qdist")).cast("long").as("adc"),
          first(col("ivf_verdict")).as("ivf_verdict"),
          first(col("pq_verdict")).as("pq_verdict"))
        .select(col("q_id"), col("vec_id").as("nn_id"), col("adc"),
          col("ivf_verdict"), col("pq_verdict"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("rn"), col("nn_id"), col("adc"),
          col("ivf_verdict"), col("pq_verdict"))
        .orderBy(col("q_id"), col("rn"))
    },
    Some(s"""WITH ivfm AS (
        SELECT * FROM (WITH $s13OracleCtes,
          $s15RefreshCtes,
          ${RefreshDecision.totAftCtes("m", "m2")},
      ${RefreshDecision.vdecCte},
          servx AS (
            SELECT c.list_id,
              CASE WHEN v.verdict = 'refresh' THEN c.cent ELSE c.cent_old END AS cent,
              v.verdict
            FROM cent3x c, vdec v),
          servy AS (
            SELECT list_id, cent, list_dot_product(cent, cent) AS cc, verdict
            FROM servx),
          ds AS (
            SELECT v.vec_id, c.list_id, c.verdict,
                   v.vv - 2 * list_dot_product(v.qv, c.cent) + c.cc AS dist
            FROM qz2 v, servy c)
         SELECT vec_id, list_id, dist, verdict FROM (
           SELECT vec_id, list_id, dist, verdict,
                  row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
           FROM ds) r WHERE rn = 1) t),
      ivfprobe AS (
        SELECT vec_id AS q_id, list_id, verdict AS ivf_verdict FROM (
          SELECT vec_id, list_id, verdict,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
          FROM (SELECT * FROM (WITH $s13OracleCtes,
              $s15RefreshCtes,
              ${RefreshDecision.totAftCtes("m", "m2")},
      ${RefreshDecision.vdecCte},
              servx AS (
                SELECT c.list_id,
                  CASE WHEN v.verdict = 'refresh' THEN c.cent ELSE c.cent_old END AS cent,
                  v.verdict
                FROM cent3x c, vdec v),
              servy AS (
                SELECT list_id, cent, list_dot_product(cent, cent) AS cc, verdict
                FROM servx)
             SELECT q.vec_id, c.list_id, c.verdict,
                    q.vv - 2 * list_dot_product(q.qv, c.cent) + c.cc AS dist
             FROM qz2 q, servy c WHERE q.vec_id < 5) t0) pd0) r
        WHERE rn <= $IvfProbe),
      pqcodes AS (
        SELECT * FROM (WITH $s14OracleCtes,
          $pqRefreshCtes,
          ${RefreshDecision.totAftCtes("best", "pbest")},
      ${RefreshDecision.vdecCte},
          pserv AS (
            SELECT c.m, c.code,
              CASE WHEN v.verdict = 'refresh' THEN c.cent ELSE c.cent_old END AS cent,
              v.verdict
            FROM prefx c, vdec v),
          pservx AS (
            SELECT m, code, cent, list_dot_product(cent, cent) AS cc, verdict
            FROM pserv),
          sd AS (
            SELECT v.vec_id, v.m, c.code, c.verdict,
                   v.svv - 2 * list_dot_product(v.sv, c.cent) + c.cc AS dist
            FROM sub2 v JOIN pservx c ON c.m = v.m)
         SELECT vec_id, m, code, verdict FROM (
           SELECT vec_id, m, code, verdict,
                  row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
           FROM sd) r WHERE rn = 1) t),
      pqdt AS (
        SELECT * FROM (WITH $s14OracleCtes,
          $pqRefreshCtes,
          ${RefreshDecision.totAftCtes("best", "pbest")},
      ${RefreshDecision.vdecCte},
          pserv AS (
            SELECT c.m, c.code,
              CASE WHEN v.verdict = 'refresh' THEN c.cent ELSE c.cent_old END AS cent,
              v.verdict
            FROM prefx c, vdec v),
          pservx AS (
            SELECT m, code, cent, list_dot_product(cent, cent) AS cc, verdict
            FROM pserv)
         SELECT q.vec_id AS q_id, c.m, c.code, c.verdict AS pq_verdict,
                q.svv - 2 * list_dot_product(q.sv, c.cent) + c.cc AS qdist
         FROM sub2 q JOIN pservx c ON c.m = q.m WHERE q.vec_id < 5) t),
      adcs AS (
        SELECT p.q_id, s.vec_id AS nn_id,
               CAST(sum(d.qdist) AS BIGINT) AS adc,
               min(p.ivf_verdict) AS ivf_verdict,
               min(d.pq_verdict) AS pq_verdict
        FROM ivfm v
        JOIN ivfprobe p USING (list_id)
        JOIN pqcodes s ON s.vec_id = v.vec_id
        JOIN pqdt d ON d.q_id = p.q_id AND d.m = s.m AND d.code = s.code
        WHERE v.vec_id <> p.q_id
        GROUP BY p.q_id, s.vec_id)
      SELECT q_id, CAST(rn AS INTEGER) AS rn, nn_id, adc,
             ivf_verdict, pq_verdict
      FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY adc, nn_id) AS rn
        FROM adcs) t
      WHERE rn <= 5 ORDER BY q_id, rn"""),
    doc = "IVF-ADC serving under BOTH executed models (FAISS IndexIVFPQ " +
      "search): the coarse probe restricts candidates to the query's " +
      "nprobe cells of the verdict-picked IVF index, ADC under the " +
      "verdict-picked PQ codebooks ranks only those candidates; the " +
      "corpus side builds the posting-list layout (cell + codes) in ONE " +
      "lineage with no corpus-corpus join; exact int64 end to end, FULL " +
      "value oracle via WITH-scoped per-family chains (the c16 discipline)")

  def all: Seq[NamedQuery] =
    Seq(s1AnnBruteForce, s2AnnLsh, s4AnnIvf, s5AnnMultiProbe, s6AnnQuantized,
      s7AnnPq, s8SeriesSimilarity, d5EmbeddingNearDup, d7EmbeddingClusters,
      s3LabelCentroids, d11SemanticDedup, s9AnnRecall, s10IndexRecall,
      s11EmbeddingDrift, s12VarianceDrift, s13IndexStaleness, d15EmbedRecall,
      s14PqStaleness, s15WarmStartRefresh, s16RadiusCert, s17PqRefresh,
      s18RefreshedServing, s19RefreshedAdc, s20IvfPqServing)
}
